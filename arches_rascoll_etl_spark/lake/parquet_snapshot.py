"""SnapshotTable — the engine's lake table: pure-Parquet snapshots.

Every ingest path (replay, the streaming sink, the quarantine dead-letter
sink) writes into a SnapshotTable. It has Iceberg-shaped semantics with
zero extra dependencies:

* **Snapshot isolation / atomic CAS commit** — every commit writes immutable
  data files plus a new JSON manifest under a unique attempt name, then
  claims the canonical ``vNNNNNN.json`` manifest name via ``os.link`` — a
  true compare-and-swap on the version number (the Iceberg
  optimistic-concurrency model). Readers resolve the max committed version
  once; a crash before the link leaves the previous snapshot intact
  (orphan attempt/data files are unreferenced and harmless); a racing
  second committer of the same version gets :class:`CommitConflictError`
  instead of silently clobbering (retry = redo the merge against the new
  head; batch-id idempotence makes that safe).
* **Copy-on-write MERGE bounded by key-hash buckets** — rows are bucketed by
  ``pmod(xxhash64(key...), n_buckets)``. A merge rewrites *only the buckets
  the batch touches*: at 100 TB with 4096 buckets, a batch touching 1% of
  keys rewrites ~1% of the table, and the rewrite job reads only those
  buckets' files (file-level pruning via the manifest — the moral
  equivalent of Iceberg partition pruning).
* **Merge-on-read MERGE for scattered updates** — ``merge(mode="mor")``
  (Iceberg v2 MOR analogue) appends per-bucket DELTA files without reading
  base at all: write cost is O(batch bytes), so a 1k-row update scattered
  across hundreds of buckets writes kilobytes where COW would rewrite
  gigabytes. Readers fold base + deltas per delta-bearing bucket with the
  SAME LWW aggregation the COW apply uses (delta-free buckets stream
  straight off base — zero resolution cost); ``compact()`` folds deltas
  back into base. COW and MOR interleave freely per batch; both obey the
  batch-id ledger, CAS commit, schema evolution and tombstone rules.
* **Idempotent commits** — each commit carries a ``batch-id`` in its
  summary; re-merging an already-committed batch id is a no-op (generalizes
  the reference's ``INSERT … WHERE pk NOT IN``,
  arches_rascoll/ref_collection.py:305-314).
* **Schema evolution** — merge unions by name with missing columns; the
  manifest stores the merged schema (new columns appended, int→long /
  float→double widening), mirroring Iceberg's evolution rules. Old files
  simply lack the new columns and read as null (the reference's accumulated
  ``col_data_types``, ref_collection.py:91,105).
* **Time travel** — ``read(version=N)`` reads any retained snapshot.

Merge algorithm (ONE shuffle total, skew-tolerant):

1. copy-on-write (and the bootstrap merge) only: compute affected buckets
   from the batch's key columns (column-pruned scan, tiny collect of
   ≤ n_buckets pre-aggregated rows). A merge-on-read merge has no such
   job: it reads no target, and its affected buckets are the bucket
   directories its write produced;
2. union(target rows of affected buckets, raw batch) → one LWW
   aggregation. Its partial (map-side) phase combines duplicate/hot keys
   before the shuffle — a hot repo costs each reducer O(map_partitions),
   not O(events) — and its exchange is pinned to
   HashPartitioning(key_cols, n_buckets), i.e. the bucket function itself,
   so the aggregation shuffle doubles as the bucket layout and the write
   needs no repartition. Out-of-order batches are safe: an event older
   than the stored row loses to it instead of clobbering it. **Tombstones
   are retained** (stored with ``op='D'``, filtered out by ``read``): a
   delete at seq 10 applied in one micro-batch must keep beating an insert
   at seq 5 that arrives in a later micro-batch — dropping the tombstone
   would resurrect the row. Tombstones are expired by
   :meth:`SnapshotTable.compact` once a seq watermark guarantees no older
   event can still arrive;
3. write rewritten buckets partitioned by bucket dir; new manifest = old
   file lists for untouched buckets + new file lists for rewritten ones.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.lww import lww_latest

_BUCKET = "_bucket"
_ZV = "_zv"

# held by merge() across its session-conf save, apply job and restore
_APPLY_CONF_LOCK = threading.Lock()


def zorder_key(
    cols: "Iterable[str]", bounds: dict, zbits: int = 8
):
    """Interleaved-bit (Morton / z-order) sort key over numeric columns, as
    a pure Column expression (Iceberg ``zorder()`` sort-order analogue).

    Each column is linearly scaled into ``zbits``-bit rank space using the
    table-wide ``bounds[col] = (min, max)``, then the per-column bits are
    interleaved so that sorting by the key clusters rows that are close in
    EVERY dimension — per-file [min, max] stats then stay tight on ALL the
    clustered columns at once, where a lexical multi-column sort only
    tightens the leading column. Nulls rank 0 (first). Equi-width scaling:
    heavily skewed columns cluster less evenly — pre-transform (e.g. log)
    or pick ``strategy="sort"`` for those.

    ``zbits * len(cols)`` must fit a long; 8 bits/dim × up to 7 dims covers
    file-level pruning (files per bucket are few — finer ranks change
    nothing once every file boundary is distinguishable)."""
    cols = list(cols)
    n = len(cols)
    if n * zbits > 63:
        raise ValueError(f"zbits={zbits} × {n} cols exceeds long range")
    top = (1 << zbits) - 1
    qs = []
    for c in cols:
        mn, mx = bounds[c]
        if mn is None or mx is None:
            mn, mx = 0.0, 1.0
        span = float(mx) - float(mn) or 1.0
        q = (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(span) * top
        q = F.least(F.greatest(F.round(q).cast("long"), F.lit(0)), F.lit(top))
        qs.append(F.coalesce(q, F.lit(0)))
    z = F.lit(0).cast("long")
    # earlier-listed columns take the higher interleave position of each
    # bit group: among equally-significant bits, the first column steers
    # the curve most (list your most-queried column first)
    for b in range(zbits):
        for i, q in enumerate(qs):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + (n - 1 - i)))
    return z

# Manifest format identity. ``BUCKET_FN_ID`` names the exact bucket
# function (murmur3 F.hash over the key columns, pmod n_buckets — the
# Spark HashPartitioning expression); it is recorded in every manifest and
# checked on every open, so a table written under a different bucket
# function (or by a pre-versioning build) is refused instead of silently
# mis-pruned — duplicate keys across buckets and wrong COW pruning are the
# failure modes this guards against.
FORMAT_VERSION = 2
BUCKET_FN_ID = "murmur3-pmod-v1"


@dataclass
class MergeStats:
    """What one :meth:`SnapshotTable.merge` call did."""

    batch_id: str
    applied: bool
    rows_in: int = 0
    upserts: int = 0
    deletes: int = 0
    affected_buckets: list[int] = field(default_factory=list)
    total_buckets: int = 0
    snapshot_version: int | None = None
    wall_ms: float = 0.0
    skipped_reason: str | None = None
    # set when the merge was STAGED (write-audit-publish): data files are
    # written and a staged manifest records them, but the table head did
    # not move — publish_staged(wap_id) fast-forwards it after audit
    staged_as: str | None = None
    # per-phase wall times: the key-only stats job (copy-on-write only —
    # a merge-on-read merge has no stats phase), the fused apply job
    # (scan+LWW+write), and manifest build + commit
    phase_ms: dict[str, float] = field(default_factory=dict)
    # merge calls this result took, including ones lost to a concurrent
    # commit (set by the replay driver's conflict retry)
    attempts: int = 1

    def as_dict(self) -> dict[str, Any]:
        return dict(self.__dict__)


class CommitConflictError(RuntimeError):
    """Another writer committed this version first. The caller must re-read
    the head and redo the merge (safe: batch-id idempotence)."""


class IncompatibleTableError(RuntimeError):
    """The on-disk table's bucket function / key layout doesn't match this
    build. Refusing is the only safe option: merging with a different
    bucket function would scatter duplicate keys across buckets."""

# numeric widening lattice (Iceberg-style type promotion)
_WIDEN = {
    ("integer", "long"): "long",
    ("long", "integer"): "long",
    ("float", "double"): "double",
    ("double", "float"): "double",
    ("integer", "double"): "double",
    ("double", "integer"): "double",
    ("long", "double"): "double",
    ("double", "long"): "double",
}


def _merge_schemas(
    old: T.StructType, new: T.StructType, key_cols: Iterable[str] = ()
) -> T.StructType:
    """Iceberg-style evolution: keep old field order, append new fields,
    widen numeric types, never drop columns.

    Widening is REJECTED on key columns: the bucket function hashes the
    stored key dtypes, and murmur3 is dtype-sensitive (hash(int 5) !=
    hash(long 5)) — widening a key would silently re-bucket future writes
    while old untouched buckets keep the old layout, scattering duplicate
    keys across buckets. Batches may still send a *narrower* key dtype
    (int where the table stores long); merge casts keys to the stored
    dtype before any hashing."""
    protected = set(key_cols)
    fields: list[T.StructField] = []
    new_by_name = {f.name: f for f in new.fields}
    for f in old.fields:
        nf = new_by_name.get(f.name)
        if nf is None or nf.dataType == f.dataType:
            fields.append(f)
        else:
            wide = _WIDEN.get((f.dataType.typeName(), nf.dataType.typeName()))
            if wide is None:
                raise ValueError(
                    f"incompatible evolution for column {f.name!r}: "
                    f"{f.dataType.simpleString()} -> {nf.dataType.simpleString()}"
                )
            if f.name in protected and wide != f.dataType.typeName():
                raise ValueError(
                    f"cannot widen key column {f.name!r} "
                    f"({f.dataType.simpleString()} -> {wide}): the bucket hash "
                    "is dtype-sensitive; cast the batch to the stored key dtype instead"
                )
            fields.append(T.StructField(f.name, T.LongType() if wide == "long" else T.DoubleType(), True))
    old_names = {f.name for f in old.fields}
    fields.extend(f for f in new.fields if f.name not in old_names)
    return T.StructType(fields)


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Iterable[str] = ("repo", "path"),
        order_cols: Iterable[str] = ("commit_seq", "commit"),
        op_col: str = "op",
        n_buckets: int = 32,
        merge_mode: str = "cow",
        stats_cols: Iterable[str] | None = None,
        key_bloom_fpp: float | None = None,
    ):
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor' (got {merge_mode!r})")
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self.op_col = op_col
        self.n_buckets = n_buckets
        # default write strategy for merge(): "cow" rewrites touched buckets
        # (read-optimized), "mor" appends per-bucket delta files and defers
        # the fold to read/compact (write-optimized — Iceberg v2 MOR
        # analogue; see merge() docstring for the 100-TB trade-off)
        self.merge_mode = merge_mode
        # manifest-level file skipping (Iceberg data-file metrics analogue):
        # when set, every commit records per-file [min, max] for these
        # columns (read from the just-written parquet FOOTERS — no extra
        # data pass; carried forward by path for surviving files), and
        # read_range() prunes files from the manifest alone — zero file
        # opens for out-of-range files, which at 100 TB is the difference
        # between a planning step and a million footer reads
        self.stats_cols = list(stats_cols) if stats_cols else []
        # per-file key Bloom filters (Iceberg puffin-blob analogue): when
        # set, every commit records a bloom over the key tuple for each
        # NEW data file (one distributed column-pruned pass over just the
        # committed bytes — see lake/bloom.py) in a per-commit sidecar the
        # manifest points at, and read_keys() skips whole files inside
        # surviving buckets without opening them.
        # Pays for itself under MOR, where a hot bucket carries many small
        # delta files and a point lookup otherwise opens all of them.
        self.key_bloom_fpp = key_bloom_fpp
        # committed_batch_ids incremental cache: (version it covers, ids)
        self._bid_cache: tuple[int | None, set[str] | None] = (None, None)
        # the last manifest this handle committed, set only after its CAS
        # link wins. Versions are never reused, so it cannot go stale: a
        # merge whose head is another writer's version reads that from
        # disk. Read-only — a new manifest may share its file lists.
        self._head: dict | None = None
        # bloom sidecar contents by filename, read-once per handle
        self._sidecar_cache: dict[str, dict] = {}
        # commit-instant cache for version_as_of: committed manifests are
        # immutable (CAS-linked), so an instant read once is valid for the
        # handle's lifetime — repeated AS-OF resolution must not re-parse
        # every manifest (which may carry inline stats) per call
        self._instant_cache: dict[int, float] = {}
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # ---------- snapshot plumbing ----------

    _MANIFEST_RE = re.compile(r"^v(\d{6})\.json$")

    def _current_version(self) -> int | None:
        versions = self._committed_versions()
        return versions[-1] if versions else None

    def _committed_versions(self) -> list[int]:
        """Every committed snapshot version on disk, ascending — the
        ancestor chain of the head PLUS branches abandoned by rollback()
        (their manifests stay readable/time-travelable until retention)."""
        try:
            entries = os.listdir(os.path.join(self.path, "manifests"))
        except FileNotFoundError:
            return []
        return sorted(
            int(m.group(1)) for e in entries if (m := self._MANIFEST_RE.match(e))
        )

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "manifests", f"v{version:06d}.json")

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            m = json.load(f)
        self._validate_manifest(m)
        return m

    def _manifest(self, version: int | str | None = None) -> dict:
        """The loaded, validated manifest of a snapshot: ``version`` None
        is the head, a string a tag name, an int that version."""
        if version is None:
            version = self._current_version()
            if version is None:
                raise FileNotFoundError(f"table {self.path} has no snapshots")
        elif isinstance(version, str):
            try:
                with open(self._tag_path(self._check_ref_name(version))) as f:
                    version = json.load(f)["version"]
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"table {self.path} has no tag {version!r}"
                ) from None
        return self._load_manifest(int(version))

    def _parent(self, version: int) -> dict:
        """Manifest ``version`` as the base of a new commit: the head when
        it is that version, else read from disk. Unvalidated: validation
        adopts the manifest's n_buckets, and overwrite() must keep its own
        layout (merge validates). Read-only: copy whatever you change."""
        if self._head is not None and self._head["version"] == version:
            return self._head
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    @staticmethod
    def _data_files(m: dict) -> Iterable[str]:
        """Every data file a manifest references: base, then MOR deltas."""
        for fmap in (m["files"], m.get("delta_files") or {}):
            for fl in fmap.values():
                yield from fl

    def _validate_manifest(self, m: dict) -> None:
        """Refuse tables written under a different bucket function or key
        layout (ADVICE: manifests must carry a bucket-fn id — a silent
        function change mis-buckets every subsequent merge/prune). The
        bucket COUNT, by contrast, is a table property: adopt the
        manifest's value so reopening with a different constructor default
        can't split the table across two layouts."""
        fn = m.get("bucket_fn", "<unversioned pre-v2 table>")
        if fn != BUCKET_FN_ID:
            raise IncompatibleTableError(
                f"table {self.path} was written with bucket function {fn!r}; "
                f"this build uses {BUCKET_FN_ID!r} — rewrite the table "
                "(read old build -> overwrite new) instead of merging into it"
            )
        if m.get("key_cols") != self.key_cols or m.get("order_cols") != self.order_cols:
            raise IncompatibleTableError(
                f"table {self.path} has key/order columns "
                f"{m.get('key_cols')}/{m.get('order_cols')}; "
                f"this handle was opened with {self.key_cols}/{self.order_cols}"
            )
        if m.get("n_buckets") != self.n_buckets:
            self.n_buckets = int(m["n_buckets"])

    def _new_manifest(
        self,
        parent: dict | None,
        schema_json: dict,
        files: dict,
        summary: dict,
        delta_files: dict | None = None,
    ) -> dict:
        """The manifest of the next version on top of ``parent`` (None: the
        first version)."""
        m = {
            "format-version": FORMAT_VERSION,
            "bucket_fn": BUCKET_FN_ID,
            "version": 0 if parent is None else parent["version"] + 1,
            "parent_version": None if parent is None else parent["version"],
            "schema": schema_json,
            "n_buckets": self.n_buckets,
            "key_cols": self.key_cols,
            "order_cols": self.order_cols,
            "files": files,
            "summary": summary,
        }
        # merge-on-read delta files per bucket (absent/empty on pure-COW
        # snapshots — pre-MOR manifests stay valid and byte-identical)
        if delta_files:
            m["delta_files"] = {b: fl for b, fl in delta_files.items() if fl}
        stats, bloom_refs = self._carry(parent or {}, m)
        if stats:
            m["file_stats"] = stats
        if bloom_refs:
            m["bloom_refs"] = bloom_refs
        return m

    def _carry(self, parent: dict, m: dict) -> tuple[dict, dict]:
        """Per-file metadata of the new manifest ``m``: column [min, max]
        stats and key Bloom filter refs, each carried forward by relative
        path for files surviving from ``parent`` — even when this handle
        has stats or blooms off, so such a writer can't strip another
        writer's pruning metadata. Files new in this commit get stats from
        their parquet footers when ``stats_cols`` is set, and blooms from
        one distributed pass when ``key_bloom_fpp`` is set, reading the key
        columns under the manifest's schema (no inference job).

        Bloom refs map {relpath: sidecar filename} — the puffin-style
        layout: the manifest carries only string pointers, the filter
        BYTES live in one ``manifests/blooms-*.json`` sidecar written per
        commit for that commit's new files and shared by every later
        manifest that still references them, so manifest size stays
        O(files), not O(files × bloom bytes), and readers fetch filter
        bytes only for the buckets they actually probe."""
        carried = parent.get("file_stats") or {}
        c_refs = parent.get("bloom_refs") or {}
        stats: dict = {}
        refs: dict = {}
        fresh: dict[str, str] = {}
        # a table without stats or blooms skips the file walk (hot
        # per-commit path in replay loops)
        if carried or c_refs or self.stats_cols or self.key_bloom_fpp:
            for f in self._data_files(m):
                st = carried.get(f)
                if st is None and self.stats_cols:
                    st = self._footer_stats(f) or None
                if st is not None:
                    stats[f] = st
                if f in c_refs:
                    refs[f] = c_refs[f]
                elif self.key_bloom_fpp:
                    fresh[f] = os.path.join(self.path, f)
        if fresh:
            from .bloom import build_file_blooms

            schema = T.StructType.fromJson(m["schema"])
            built = build_file_blooms(
                self.spark, fresh, self.key_cols, self.key_bloom_fpp,
                key_schema=T.StructType([schema[k] for k in self.key_cols]),
            )
            if built:
                # unique name per build: a CAS-losing commit leaves an
                # unreferenced sidecar (never a clobbered shared one),
                # swept by remove_orphans like attempt-* debris
                name = f"blooms-{uuid.uuid4().hex[:12]}.json"
                with open(os.path.join(self.path, "manifests", name), "w") as f:
                    json.dump(built, f)
                self._sidecar_cache[name] = built
                for rel in built:
                    refs[rel] = name
        return stats, refs

    def _blooms_for(self, m: dict, files: list[str]) -> dict:
        """{relpath: bloom} for JUST the requested files, from the sidecars
        their refs name. Each needed sidecar is read once per handle — a
        point lookup touches only the probed buckets' sidecars, never the
        table's full bloom bytes. A file without a bloom (or whose sidecar
        GC raced us) is simply not pruned, never answered wrongly."""
        refs = m.get("bloom_refs") or {}
        out: dict = {}
        needed: dict[str, list[str]] = {}
        for f in files:
            r = refs.get(f)
            if r is not None:
                needed.setdefault(r, []).append(f)
        for name, fl in needed.items():
            side = self._sidecar_cache.get(name)
            if side is None:
                try:
                    with open(os.path.join(self.path, "manifests", name)) as fh:
                        side = json.load(fh)
                except FileNotFoundError:
                    side = {}
                self._sidecar_cache[name] = side
            for f in fl:
                bl = side.get(f)
                if bl is not None:
                    out[f] = bl
        return out

    def _footer_stats(self, relpath: str) -> dict:
        """{col: [min, max]} for stats_cols from one parquet FOOTER (row-
        group statistics — no data pages are read). Only JSON-portable
        scalar types (int/float/str/bool) are recorded; a column with any
        stats-less or exotic-typed row group is omitted, which read_range
        treats as unprunable — conservative, never wrong. Stats include
        tombstone rows, which can only WIDEN a range: also conservative."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(self.path, relpath)).metadata
        if md.num_row_groups == 0:
            return {}
        idx = {
            md.row_group(0).column(j).path_in_schema: j
            for j in range(md.row_group(0).num_columns)
        }
        out = {}
        for col in self.stats_cols:
            j = idx.get(col)
            if j is None:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(j).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if not mins:
                continue
            lo, hi = min(mins), max(maxs)
            if all(isinstance(v, (int, float, str, bool)) for v in (lo, hi)):
                out[col] = [lo, hi]
        return out

    @staticmethod
    def _delta_map(m: dict) -> dict[str, list[str]]:
        """Per-bucket MOR delta file lists of a manifest ({} on pure COW)."""
        return m.get("delta_files") or {}

    def _cas_link(self, content: dict, dest: str, conflict: str) -> None:
        """Write ``content`` to a unique ``attempt-*`` file, then
        ``os.link`` it to ``dest`` — atomic, and fails if ``dest`` exists,
        so exactly one writer claims the name, with complete content.
        Losing the race raises :class:`CommitConflictError` with message
        ``conflict``; the attempt file is removed either way."""
        attempt = os.path.join(
            self.path, "manifests", f"attempt-{uuid.uuid4().hex[:12]}.json"
        )
        with open(attempt, "w") as f:
            json.dump(content, f)
        try:
            os.link(attempt, dest)
        except FileExistsError:
            raise CommitConflictError(conflict) from None
        finally:
            os.unlink(attempt)

    def _commit(self, manifest: dict) -> None:
        """CAS commit: ``_cas_link`` the manifest to its canonical
        ``vNNNNNN.json`` name, so exactly one writer claims each version,
        with complete content (no window where the canonical file exists
        half-written). Losing the race raises :class:`CommitConflictError`;
        a crash before the link leaves only an ``attempt-*`` orphan that no
        reader ever resolves."""
        version = manifest["version"]
        # commit instant persisted IN the manifest (Iceberg stores it in
        # table metadata too): mtime-only resolution breaks under rsync/
        # backup-restore/DR promotion, which rewrite mtimes wholesale.
        # Always overwrite: rollback() commits a COPY of an old manifest,
        # and carrying its original instant would timestamp the new
        # version in the past (AS OF just before the rollback must still
        # resolve the rolled-back head, not the re-published state).
        manifest["committed_at"] = time.time()
        self._cas_link(
            manifest, self._manifest_path(version),
            f"version {version} of {self.path} was committed concurrently; "
            "re-read the head and redo the merge",
        )
        self._instant_cache[version] = manifest["committed_at"]
        self._head = manifest

    def _commit_rewrite(
        self, parent: dict | None, data: DataFrame, summary: dict, *,
        schema_json: dict | None = None, rewrite: set[str] | None = None,
        t0: float | None = None, **write_opts,
    ) -> int:
        """Write ``data`` (with _bucket) as one new commit's files and
        commit the next version on top of ``parent``. With ``rewrite``,
        buckets outside it keep the parent's base and delta file lists;
        without it the write replaces the whole table. ``t0`` stamps the
        summary's ``wall_ms``. Returns the new version."""
        new_files = self._write_buckets(data, uuid.uuid4().hex[:12], **write_opts)
        files: dict = {}
        deltas: dict = {}
        if rewrite is not None:
            files = {b: fl for b, fl in parent["files"].items() if b not in rewrite}
            deltas = {b: fl for b, fl in self._delta_map(parent).items() if b not in rewrite}
        files.update(new_files)
        if t0 is not None:
            summary = {"wall_ms": round((time.time() - t0) * 1000, 1), **summary}
        m = self._new_manifest(
            parent, schema_json or parent["schema"], files, summary,
            delta_files=deltas,
        )
        self._commit(m)
        return m["version"]

    def exists(self) -> bool:
        return self._current_version() is not None

    def current_version(self) -> int | None:
        return self._current_version()

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self._manifest()["schema"])

    def snapshots(self) -> list[dict]:
        v = self._current_version()
        out = []
        while v is not None:
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                break  # older history expired (expire_snapshots)
            out.append({"version": m["version"], "summary": m.get("summary", {})})
            v = m.get("parent_version")
        return list(reversed(out))

    # ---------- named refs: tags + write-audit-publish staging ----------

    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.path, "manifests", f"tag-{name}.json")

    def _check_ref_name(self, name: str) -> str:
        name = str(name)
        if not self._REF_NAME_RE.match(name):
            raise ValueError(
                f"ref name {name!r} must match {self._REF_NAME_RE.pattern}"
            )
        return name

    def tag(self, name: str, version: int | None = None) -> int:
        """Create an IMMUTABLE named ref to a snapshot (Iceberg tag
        analogue). Tagged snapshots are pinned: ``expire_snapshots``
        keeps their manifest and data files regardless of ``keep_last``,
        so ``read(version="prod-2026-08")`` works for as long as the tag
        exists. CAS semantics like commits: tagging an existing name
        raises (delete_tag first) — a tag never silently moves."""
        name = self._check_ref_name(name)
        v = self._current_version() if version is None else int(version)
        if v is None or not os.path.exists(self._manifest_path(v)):
            raise FileNotFoundError(f"no snapshot version {v} to tag")
        self._cas_link(
            {"name": name, "version": v}, self._tag_path(name),
            f"tag {name!r} already exists on {self.path}",
        )
        return v

    def tags(self) -> dict[str, int]:
        """{tag name: snapshot version} for every tag on the table."""
        out: dict[str, int] = {}
        man_dir = os.path.join(self.path, "manifests")
        for fn in os.listdir(man_dir) if os.path.isdir(man_dir) else []:
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(man_dir, fn)) as f:
                    r = json.load(f)
                out[r["name"]] = int(r["version"])
        return out

    def delete_tag(self, name: str) -> None:
        os.unlink(self._tag_path(self._check_ref_name(name)))

    def _staged_path(self, wap_id: str) -> str:
        return os.path.join(self.path, "manifests", f"staged-{wap_id}.json")

    def _commit_staged(self, manifest: dict, wap_id: str) -> None:
        """Write a STAGED manifest (write-audit-publish): same CAS attempt
        + link discipline as _commit, but to ``staged-<wap_id>.json`` — the
        table head does not move and the batch id is NOT committed until
        publish_staged() links it to its canonical version name."""
        self._cas_link(
            manifest, self._staged_path(wap_id),
            f"staged snapshot {wap_id!r} already exists on {self.path}; "
            "publish or discard it first",
        )

    def read_staged(self, wap_id: str) -> DataFrame:
        """Live rows of a staged (unpublished) snapshot — the AUDIT half of
        write-audit-publish. Runs the same tombstone/MOR resolution as
        read(), so validation queries see exactly what publish would make
        current."""
        with open(self._staged_path(self._check_ref_name(wap_id))) as f:
            m = json.load(f)
        self._validate_manifest(m)
        return self._live(self._resolved_stored(m))

    def publish_staged(self, wap_id: str) -> int:
        """Fast-forward the table head to a staged snapshot (the PUBLISH
        half of WAP). Atomic and conflict-safe: the staged manifest was
        computed against its parent head, so it claims exactly version
        parent+1 — one os.link, no data rewrite. If any commit landed
        since staging, that version name is taken and this raises
        CommitConflictError (discard and re-stage against the new head:
        the staged LWW state could be stale). On success the staged
        batch's id becomes committed — replay idempotence picks it up
        exactly like a direct merge."""
        wap_id = self._check_ref_name(wap_id)
        sp = self._staged_path(wap_id)
        with open(sp) as f:
            m = json.load(f)
        self._validate_manifest(m)
        # a regular commit: the instant is PUBLISH time, not staging time
        try:
            self._commit(m)
        except CommitConflictError:
            raise CommitConflictError(
                f"cannot publish staged snapshot {wap_id!r}: the table "
                f"advanced past its parent (version {m['parent_version']}); "
                "discard_staged() and re-stage against the new head"
            ) from None
        os.unlink(sp)
        return m["version"]

    def discard_staged(self, wap_id: str) -> None:
        """Drop a staged snapshot after a failed audit. Its data files
        become unreferenced debris, swept by remove_orphans after the
        usual age grace (never eagerly: another handle may be mid-
        publish)."""
        os.unlink(self._staged_path(self._check_ref_name(wap_id)))

    def staged(self) -> list[str]:
        """wap_ids of pending staged snapshots."""
        man_dir = os.path.join(self.path, "manifests")
        return sorted(
            fn[len("staged-"):-len(".json")]
            for fn in (os.listdir(man_dir) if os.path.isdir(man_dir) else [])
            if fn.startswith("staged-") and fn.endswith(".json")
        )

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Retention GC (Iceberg expire_snapshots analogue): drop snapshots
        older than the last ``keep_last`` and delete data files referenced
        ONLY by them. Time travel beyond retention then raises (as in
        Iceberg); replay idempotence is unaffected — the checkpoint
        log, not snapshot history, is the replay's skip authority,
        and the lake-side batch-id dedup still covers the retained window.
        """
        if keep_last < 1:
            raise ValueError(
                f"keep_last must be >= 1 (got {keep_last}): keeping zero "
                "snapshots would delete the current manifest and all data"
            )
        cur = self._current_version()
        if cur is None:
            return {
                "removed_snapshots": 0,
                "removed_files": 0,
                "removed_bloom_sidecars": 0,
            }
        chain: list[dict] = []
        v: int | None = cur
        while v is not None:
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                break
            chain.append(m)
            v = m.get("parent_version")
        keep, expire = chain[:keep_last], chain[keep_last:]
        # tags pin snapshots (Iceberg rule): a tagged version keeps its
        # manifest and data files no matter how old it is
        tagged = set(self.tags().values())
        pinned = [m for m in expire if m["version"] in tagged]
        expire = [m for m in expire if m["version"] not in tagged]
        keep = keep + pinned
        # snapshots NOT on the ancestor chain were abandoned by rollback().
        # They age out like any other snapshot (Iceberg expires unreachable
        # snapshots the same way): versions are monotone commit order, so
        # the retention cut is the oldest KEPT chain version — an abandoned
        # branch newer than the cut stays time-travelable (and un-rollback-
        # able-to), an older one expires with its chain contemporaries.
        cut = min(m["version"] for m in chain[:keep_last])
        chain_versions = {m["version"] for m in chain}
        for v_side in self._committed_versions():
            if v_side in chain_versions:
                continue
            m_side = self._load_manifest(v_side)
            if v_side >= cut or v_side in tagged:
                keep.append(m_side)  # protect its files until it ages out
            else:
                expire.append(m_side)

        keep_files = {f for m in keep for f in self._data_files(m)}
        keep_sidecars = {
            r for m in keep for r in (m.get("bloom_refs") or {}).values()
        }
        removed_files = removed_sidecars = 0
        for m in expire:
            for f in self._data_files(m):
                if f not in keep_files:
                    p = os.path.join(self.path, f)
                    if os.path.exists(p):
                        os.unlink(p)
                        removed_files += 1
            # bloom sidecars referenced ONLY by expired manifests go with
            # them (shared sidecars: first expired referent wins, the
            # exists() guard absorbs the rest)
            for r in set((m.get("bloom_refs") or {}).values()) - keep_sidecars:
                p = os.path.join(self.path, "manifests", r)
                if os.path.exists(p):
                    os.unlink(p)
                    removed_sidecars += 1
            os.unlink(self._manifest_path(m["version"]))
        # prune empty per-commit data dirs left behind (a table whose only
        # commits were empty batches has no data dir at all)
        data_root = os.path.join(self.path, "data")
        for commit_dir in os.listdir(data_root) if os.path.isdir(data_root) else []:
            cd = os.path.join(data_root, commit_dir)
            for bucket_dir in os.listdir(cd) if os.path.isdir(cd) else []:
                bd = os.path.join(cd, bucket_dir)
                if os.path.isdir(bd) and not os.listdir(bd):
                    os.rmdir(bd)
            if os.path.isdir(cd) and not os.listdir(cd):
                os.rmdir(cd)
        return {
            "removed_snapshots": len(expire),
            "removed_files": removed_files,
            "removed_bloom_sidecars": removed_sidecars,
        }

    # Iceberg's remove_orphan_files defaults to 3 days for the same reason:
    # a legitimately slow in-flight write (big merge/rebucket) may spend a
    # long time between first data file and CAS commit; sweeping its
    # uncommitted files corrupts the snapshot the later commit references.
    _ORPHAN_GRACE_FLOOR_S = 6 * 3600.0

    def remove_orphans(
        self, older_than_s: float = 72 * 3600.0, *, force: bool = False,
        dry_run: bool = False,
    ) -> dict:
        """Orphan cleanup (Iceberg remove_orphan_files analogue — incl.
        its ``dry_run``: count-and-report without touching the filesystem,
        the sanity check an operator runs before the first sweep of a
        production table): delete
        data files referenced by NO retained manifest, plus leftover
        ``attempt-*`` manifests — the debris of crashes between data write
        and commit, and of losing CAS racers. Only files older than
        ``older_than_s`` seconds are touched, so an in-flight merge's
        freshly written (not yet committed) files are never swept. The
        default grace is 72 h (Iceberg's default); values below the 6 h
        safety floor are refused unless ``force=True`` (tests use force)."""
        if older_than_s < self._ORPHAN_GRACE_FLOOR_S and not force:
            raise ValueError(
                f"older_than_s={older_than_s:g}s is below the "
                f"{self._ORPHAN_GRACE_FLOOR_S:g}s safety floor — a slow "
                "in-flight merge's uncommitted files could be swept and the "
                "later commit would reference deleted files; pass force=True "
                "only if no write can possibly be in flight"
            )
        now = time.time()
        live: set[str] = set()
        live_sidecars: set[str] = set()
        # EVERY committed manifest on disk is live — the head's ancestor
        # chain AND branches abandoned by rollback(), which stay readable
        # until expire_snapshots retires them; sweeping their data files
        # here would corrupt time travel to a still-present manifest
        for v in self._committed_versions():
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                continue  # raced with a concurrent expire_snapshots
            live.update(self._data_files(m))
            live_sidecars.update((m.get("bloom_refs") or {}).values())
        removed = {
            "data_files": 0,
            "attempt_manifests": 0,
            "bloom_sidecars": 0,
            "staged_manifests": 0,
        }
        # staged (write-audit-publish) snapshots: within the grace window
        # their files are LIVE (a publish may still land); past it the
        # staged manifest itself is debris — sweep it FIRST so its unique
        # files fall out as ordinary orphans in the same pass
        man_dir = os.path.join(self.path, "manifests")
        for fn in sorted(os.listdir(man_dir)) if os.path.isdir(man_dir) else []:
            if not (fn.startswith("staged-") and fn.endswith(".json")):
                continue
            p = os.path.join(man_dir, fn)
            if now - os.path.getmtime(p) > older_than_s:
                if not dry_run:
                    os.unlink(p)
                removed["staged_manifests"] += 1
            else:
                with open(p) as f:
                    sm = json.load(f)
                live.update(self._data_files(sm))
                live_sidecars.update((sm.get("bloom_refs") or {}).values())
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for commit_dir in os.listdir(data_root):
                cd = os.path.join(data_root, commit_dir)
                if not os.path.isdir(cd):
                    continue
                for bucket_dir in os.listdir(cd):
                    bd = os.path.join(cd, bucket_dir)
                    if not os.path.isdir(bd):
                        continue
                    for fn in os.listdir(bd):
                        # checksum siblings (.part-N.crc on local FS) are
                        # judged by the data file they belong to
                        data_fn = fn[1:-4] if fn.startswith(".") and fn.endswith(".crc") else fn
                        rel = os.path.join("data", commit_dir, bucket_dir, data_fn)
                        p = os.path.join(bd, fn)
                        if rel not in live and now - os.path.getmtime(p) > older_than_s:
                            if not dry_run:
                                os.unlink(p)
                            removed["data_files"] += 1
                    if not dry_run and not os.listdir(bd):
                        os.rmdir(bd)
                if not dry_run and not os.listdir(cd):
                    os.rmdir(cd)
        man_dir = os.path.join(self.path, "manifests")
        for fn in os.listdir(man_dir):
            if fn.startswith("attempt-"):
                p = os.path.join(man_dir, fn)
                if now - os.path.getmtime(p) > older_than_s:
                    if not dry_run:
                        os.unlink(p)
                    removed["attempt_manifests"] += 1
            elif fn.startswith("blooms-") and fn not in live_sidecars:
                # a CAS-losing commit's bloom sidecar: unreferenced by any
                # retained manifest — same debris class as attempt-*
                p = os.path.join(man_dir, fn)
                if now - os.path.getmtime(p) > older_than_s:
                    if not dry_run:
                        os.unlink(p)
                    removed["bloom_sidecars"] += 1
        return removed

    def committed_batch_ids(self) -> set[str]:
        """Batch ids recorded in the snapshot chain — the lake-side half of
        exactly-once. Incrementally cached per handle: a naive walk is one
        manifest JSON read per snapshot PER MERGE, i.e. O(batches²) driver
        file reads over a long replay (10⁴ batches → 10⁸ reads). The cache
        keys on the current version and only walks the manifests committed
        since the last call — including another writer's (the walk stops at
        the cached version, which is always an ancestor: versions are
        linear under the CAS commit)."""
        return self._batch_ids(self._current_version())

    def _batch_ids(self, cur: int | None) -> set[str]:
        """committed_batch_ids as of head version ``cur``."""
        if cur is None:
            return set()
        cached_v, cached = self._bid_cache
        if cached_v == cur:
            # Copy: callers mutating the returned set must not corrupt the
            # per-handle exactly-once cache shared by later merges.
            return set(cached)
        # Merge the cached set ONLY if the cached version is actually met on
        # the ancestor walk: after a rollback() the parent chain skips the
        # rolled-back snapshots, so a stale cache head (e.g. the pre-rollback
        # tip) is NOT an ancestor — seeding from it would keep rolled-back
        # batch ids "committed" and silently skip their legitimate re-apply.
        ids: set[str] = set()
        v: int | None = cur
        while v is not None:
            if v == cached_v and cached is not None:
                ids |= cached
                break
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                break  # older history expired (expire_snapshots)
            s = m.get("summary", {})
            if "batch-id" in s:
                ids.add(s["batch-id"])
            v = m.get("parent_version")
        self._bid_cache = (cur, ids)
        return set(ids)

    # ---------- read ----------

    def _stored_schema(self, logical: T.StructType) -> T.StructType:
        """On-disk schema = logical schema + the op column (tombstone marker).
        Files written before tombstone retention (overwrite snapshots) lack
        the column and read as null, which readers coalesce to 'U'."""
        if self.op_col in logical.fieldNames():
            return logical
        return T.StructType(list(logical.fields) + [T.StructField(self.op_col, T.StringType(), True)])

    def _read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f) for f in files]
        # explicit schema: old files lacking evolved columns read as null;
        # narrower numerics are up-cast by the parquet vectorized reader
        return self.spark.read.schema(schema).parquet(*paths)

    def version_as_of(self, ts: float) -> int:
        """Newest committed snapshot whose commit instant is <= ``ts``
        (epoch seconds) — Iceberg ``TIMESTAMP AS OF`` resolution. The
        commit instant is the ``committed_at`` epoch stamped INSIDE the
        manifest at commit/publish time (Iceberg persists it in table
        metadata the same way), so an out-of-band copy, rsync, backup
        restore or DR promotion of the table directory — which rewrites
        every file's mtime — cannot silently re-time the history, and
        cross-host writers can't leave the resolution non-monotone with
        version just because their link mtimes interleaved. Manifests
        written before this field existed fall back to file mtime. To keep
        AS-OF monotone with the version order even under writer clock
        skew, the scan carries the running max commit instant forward
        (Iceberg's ancestor walk has the same effect). Raises if ``ts``
        predates the first snapshot."""
        best = None
        prev = float("-inf")
        for v in self._committed_versions():  # ascending
            committed = self._instant_cache.get(v)
            if committed is None:
                m_path = self._manifest_path(v)
                try:
                    with open(m_path) as f:
                        committed = json.load(f).get("committed_at")
                except (OSError, ValueError):
                    committed = None
                if committed is None:  # pre-committed_at manifest
                    committed = os.path.getmtime(m_path)
                self._instant_cache[v] = committed
            committed = max(committed, prev)  # monotone with version order
            prev = committed
            if committed <= ts:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"table {self.path} has no snapshot at or before ts={ts}"
            )
        return best

    def read(
        self, version: int | str | None = None, as_of_ts: float | None = None
    ) -> DataFrame:
        """Live rows of a snapshot: stored rows minus tombstones.
        ``version`` may be an int (time travel), a tag name string
        (named ref), or None for the current head; ``as_of_ts`` (epoch
        seconds, mutually exclusive with ``version``) resolves the newest
        snapshot committed at or before that instant (TIMESTAMP AS OF)."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass either version or as_of_ts, not both")
            version = self.version_as_of(as_of_ts)
        return self._live(self._read_stored(version))

    def _live(self, df: DataFrame) -> DataFrame:
        """Stored rows minus tombstones, without the op column."""
        return df.where(
            F.coalesce(F.col(self.op_col), F.lit("U")) != "D"
        ).drop(self.op_col)

    def _read_stored(self, version: int | str | None = None) -> DataFrame:
        """All stored rows of a snapshot, tombstones included, with op —
        one winner row per key (MOR deltas resolved, see _resolved_stored)."""
        return self._resolved_stored(self._manifest(version))

    def _resolved_stored(
        self, m: dict, buckets: Iterable[str] | None = None
    ) -> DataFrame:
        """Winner-per-key stored rows of a snapshot manifest (tombstones
        included, op column present), restricted to ``buckets`` when given.

        MOR resolution happens here, bucket-bounded: buckets WITHOUT delta
        files stream straight off their base files — no aggregation, no
        shuffle, the base invariant (merge/compact collapse to one row per
        key) makes resolution a no-op there. Buckets WITH deltas union
        base + delta rows and collapse with the SAME LWW aggregation the
        COW apply uses (stored rows re-enter at their own seq, op null
        coalesced to 'U'), so a MOR table reads row-for-row identical to
        the COW table produced by the same batches. The read-side shuffle
        is bounded by the delta-bearing buckets' rows only — the price MOR
        pays at read time for its O(batch) writes (fold it back with
        compact())."""
        schema = self._stored_schema(T.StructType.fromJson(m["schema"]))
        files, deltas = m["files"], self._delta_map(m)
        bset = (
            set(files) | set(deltas)
            if buckets is None
            else {str(b) for b in buckets}
        )
        plain = [f for b in bset if not deltas.get(b) for f in files.get(b, [])]
        delta_buckets = [b for b in bset if deltas.get(b)]
        base = self._read_files(plain, schema)
        if not delta_buckets:
            return base
        dfiles = [
            f for b in delta_buckets for f in files.get(b, []) + deltas[b]
        ]
        d = self._read_files(dfiles, schema).withColumn(
            self.op_col, F.coalesce(F.col(self.op_col), F.lit("U"))
        )
        return base.unionByName(lww_latest(d, self.key_cols, self.order_cols))

    # below this many lookup keys, read_keys also pushes per-column In
    # filters into the parquet scan (see docstring) — larger lists would
    # bloat the filter expression for no skipping benefit
    _PUSHDOWN_MAX_KEYS = 256

    def read_keys(
        self, keys: list[tuple], version: int | str | None = None
    ) -> DataFrame:
        """Bucket-pruned point lookup: read ONLY the data files of the
        buckets the requested keys hash into (manifest-level pruning — the
        read-side twin of the COW write's bucket selectivity; the moral
        equivalent of Iceberg's partition pruning). ``keys`` is a list of
        key-column value tuples. At 4096 buckets, a lookup of a handful of
        keys scans ~0.1% of a 100 TB table.

        Within the surviving bucket files, a second pruning level applies
        for small key lists: per-key-column ``In`` filters (a superset of
        the exact key set — the per-column cartesian) are pushed into the
        parquet scan, where row-group min/max and dictionary stats skip
        row groups. This bites because merge's LWW aggregation is a
        sort-aggregate over the key columns, so every data file is stored
        key-sorted and row-group key ranges are tight. The exact semi-join
        then filters the superset to the requested tuples."""
        import pyspark.sql.functions as _F

        m = self._manifest(version)
        schema = self._stored_schema(T.StructType.fromJson(m["schema"]))
        key_df = self.spark.createDataFrame(keys, schema=T.StructType(
            [T.StructType.fromJson(m["schema"])[k] for k in self.key_cols]
        ))
        wanted = {
            str(r[0])
            for r in key_df.select(self._bucket_col(key_df).alias(_BUCKET)).distinct().collect()
        }
        deltas = self._delta_map(m)
        files = [f for b, fl in m["files"].items() if b in wanted for f in fl]
        files += [f for b in wanted for f in deltas.get(b, [])]
        # third pruning level: per-file key Bloom filters (when the table
        # was written with key_bloom_fpp) drop whole files inside the
        # surviving buckets whose filter proves every requested key absent.
        # Sound under MOR for the same reason the In-pushdown is: key
        # predicates commute with the per-key LWW — a file without the key
        # contributes nothing to that key's resolution. Files without a
        # bloom are always kept (conservative).
        if 0 < len(keys) <= self._PUSHDOWN_MAX_KEYS:
            blooms = self._blooms_for(m, files)
            if blooms:
                from .bloom import maybe_contains_any, probe_hashes

                hashes = probe_hashes(self.spark, keys, key_df.schema)
                files = [
                    f for f in files
                    if (bl := blooms.get(f)) is None
                    or maybe_contains_any(bl, hashes)
                ]
        self._last_lookup_files_scanned = len(files)
        df = self._read_files(files, schema)
        if 0 < len(keys) <= self._PUSHDOWN_MAX_KEYS:
            for i, k in enumerate(self.key_cols):
                # no sorted(): isin needs no ordering, and a None or
                # mixed-type key value would make sorted() raise TypeError
                # before the query even runs. None never matches isin, but
                # such keys still resolve through the semi-join below.
                vals = list({t[i] for t in keys if t[i] is not None})
                has_null = any(t[i] is None for t in keys)
                if vals and has_null:
                    df = df.where(_F.col(k).isin(vals) | _F.col(k).isNull())
                elif vals:
                    df = df.where(_F.col(k).isin(vals))
        # MOR: if any scanned bucket carries deltas, collapse to the winner
        # per key AFTER the pushdown filters — key-level predicates commute
        # with the per-key LWW, so resolution runs over only the filtered
        # superset (a handful of row groups), not the whole bucket
        if any(deltas.get(b) for b in wanted):
            df = df.withColumn(
                self.op_col, _F.coalesce(_F.col(self.op_col), _F.lit("U"))
            )
            df = lww_latest(df, self.key_cols, self.order_cols)
        # semi-join against the key set (broadcast — the key list is small)
        out = df.join(_F.broadcast(key_df), on=self.key_cols, how="left_semi")
        return self._live(out)

    def read_range(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Stats-pruned range scan: live rows with lo <= col <= hi, opening
        ONLY the data files whose manifest [min, max] for ``col`` intersects
        the range (Iceberg data-file metrics pruning analogue; requires the
        table to have been written with ``stats_cols``). Files without
        recorded stats are always read — conservative, never wrong.

        MOR caveat: a delta-bearing bucket is read IN FULL and resolved
        before the filter. Pruning pre-resolution rows there would be
        unsound both ways — a pruned base row could otherwise win against
        a superseding out-of-range delta, and a pruned delta could let a
        stale in-range base row resurface. (Value predicates do NOT commute
        with per-key LWW, unlike read_keys' key predicates, which do.)
        Compaction folds deltas into stats-bearing base files and restores
        pruning. Correctness does not depend on pruning at all: the full
        predicate is re-applied to the scanned rows, so stats only decide
        which files open."""
        m = self._manifest(version)
        stats = m.get("file_stats") or {}
        deltas = self._delta_map(m)

        def _may_match(f: str) -> bool:
            rng = stats.get(f, {}).get(col)
            if not rng:
                return True
            mn, mx = rng
            return not (mx < lo or mn > hi)

        pruned = dict(m)
        pruned["files"] = {
            b: (fl if deltas.get(b) else [f for f in fl if _may_match(f)])
            for b, fl in m["files"].items()
        }
        return self._live(self._resolved_stored(pruned)).where(
            F.col(col).between(F.lit(lo), F.lit(hi))
        )

    # ---------- write ----------

    def _bucket_col(self, df: DataFrame):
        """Bucket id = pmod(murmur3(key_cols), n_buckets) — deliberately the
        exact expression of Spark's ``HashPartitioning``, so that
        ``repartition(n_buckets, *key_cols)`` co-locates each bucket on
        exactly one task: bucket id == partition id. Downstream groupBy on
        the keys then reuses that partitioning (no second shuffle), and the
        bucketed write needs no repartition of its own."""
        return F.pmod(F.hash(*[F.col(k) for k in self.key_cols]), F.lit(self.n_buckets)).cast("int")

    def _write_buckets(
        self, df: DataFrame, commit_id: str, pre_partitioned: bool = False,
        order_by: list | None = None, max_records_per_file: int | None = None,
    ) -> dict[str, list[str]]:
        """Write df (with _bucket col) partitioned by bucket; return
        bucket -> [relative file paths]. ``pre_partitioned``: caller already
        holds HashPartitioning(key_cols, n_buckets) — skip the exchange; each
        task then writes exactly one bucket directory (one file per bucket).
        ``order_by`` sorts rows within each bucket task (prefixed by the
        bucket column, so the writer's required partition-column ordering is
        already satisfied and it adds NO extra sort — physical row order is
        the requested one); internal ``_``-prefixed sort columns are dropped
        before the bytes hit disk. ``max_records_per_file`` splits each
        sorted bucket into several order-contiguous files (the lever that
        turns a within-bucket sort into per-file stats pruning)."""
        out_dir = os.path.join(self.path, "data", commit_id)
        if not pre_partitioned:
            df = df.repartition(self.n_buckets, *[F.col(k) for k in self.key_cols])
        if order_by:
            df = df.sortWithinPartitions(_BUCKET, *order_by)
            drop = [c for c in order_by if isinstance(c, str) and c.startswith("_")]
            if drop:
                df = df.drop(*drop)
        w = df.write.partitionBy(_BUCKET).mode("overwrite")
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        w.parquet(out_dir)
        files: dict[str, list[str]] = {}
        for entry in os.listdir(out_dir):
            if not entry.startswith(f"{_BUCKET}="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out_dir, entry)
            rel = [
                os.path.join("data", commit_id, entry, fn)
                for fn in os.listdir(bdir)
                if fn.endswith(".parquet")
            ]
            files[b] = sorted(rel)
        return files

    def overwrite(self, df: DataFrame, summary: dict | None = None) -> int:
        """Full replace (initial load) — one snapshot containing all rows."""
        t0 = time.time()
        cur = self._current_version()
        return self._commit_rewrite(
            None if cur is None else self._parent(cur),
            df.withColumn(_BUCKET, self._bucket_col(df)),
            {"operation": "overwrite", **(summary or {})},
            schema_json=df.schema.jsonValue(), t0=t0,
        )

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_old: bool = False,
    ) -> DataFrame:
        """Incremental/CDC read: the net row-level changes between two
        snapshots, as a change stream ``(change_op, <row columns>)`` with
        ``change_op`` in I/U/D — the lake as a *source* for downstream CDC
        (Iceberg incremental-read analogue).

        Scale story: the manifests are diffed first — only buckets whose
        file lists differ between the two versions are read at all, so a
        change touching 1% of buckets scans ~1% of both snapshots; the diff
        itself is one full-outer join co-partitioned on the keys. Deleted
        rows carry the FROM-side values (last known row); updates carry the
        TO-side values.

        ``include_old=True`` returns the both-images shape instead:
        ``(change_op, <keys>, old struct, new struct)`` with the full
        before/after payloads (old null for I, new null for D) — what
        downstream incremental aggregate maintenance needs to retract an
        update's previous contribution (see operators.incremental)."""
        m_from = self._manifest(from_version)
        m_to = self._manifest(to_version)
        schema_to = T.StructType.fromJson(m_to["schema"])

        d_from, d_to = self._delta_map(m_from), self._delta_map(m_to)
        all_buckets = (
            set(m_from["files"]) | set(m_to["files"]) | set(d_from) | set(d_to)
        )
        # a bucket changed if its base OR its delta file list moved (a MOR
        # merge only appends deltas; a compact only folds them — both must
        # surface in the incremental read)
        changed = sorted(
            b
            for b in all_buckets
            if m_from["files"].get(b) != m_to["files"].get(b)
            or d_from.get(b) != d_to.get(b)
        )

        old = self._live(self._resolved_stored(m_from, changed))
        new = self._live(self._resolved_stored(m_to, changed))

        # align the FROM side to the TO schema (evolution adds columns)
        aligned_old = old.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in old.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema_to.fields
            ]
        )
        keys = self.key_cols
        payload = [f.name for f in schema_to.fields if f.name not in keys]
        o = aligned_old.select(
            *keys, F.struct(*[F.col(c) for c in payload]).alias("_old")
        )
        n = new.select(*keys, F.struct(*[F.col(c) for c in payload]).alias("_new"))
        j = o.join(n, on=list(keys), how="full_outer")
        ord_new = F.struct(*[F.col("_new")[c] for c in self.order_cols])
        ord_old = F.struct(*[F.col("_old")[c] for c in self.order_cols])
        change = (
            F.when(F.col("_old").isNull(), F.lit("I"))
            .when(F.col("_new").isNull(), F.lit("D"))
            .when(ord_new != ord_old, F.lit("U"))
        )
        picked = F.when(F.col("_new").isNotNull(), F.col("_new")).otherwise(F.col("_old"))
        changed_rows = j.withColumn("change_op", change).where(F.col("change_op").isNotNull())
        if include_old:
            return changed_rows.select(
                "change_op",
                *keys,
                F.col("_old").alias("old"),
                F.col("_new").alias("new"),
            )
        return changed_rows.select(
            "change_op", *keys, *[picked[c].alias(c) for c in payload]
        )

    def delta_debt(self) -> dict:
        """MOR maintenance signal: how much read-side resolution debt the
        table carries. Manifest-only (no data read — callable every
        trigger): per-bucket delta file counts plus the maxima an
        auto-compaction policy thresholds on (streaming.stream_into_table
        ``auto_compact_delta_files``)."""
        try:
            deltas = self._delta_map(self._manifest())
        except FileNotFoundError:  # no snapshots yet
            deltas = {}
        per = {b: len(fl) for b, fl in deltas.items() if fl}
        return {
            "delta_buckets": len(per),
            "max_delta_files": max(per.values(), default=0),
            "total_delta_files": sum(per.values()),
            "per_bucket": per,
        }

    def compact(self, tombstone_watermark=None, summary: dict | None = None, *,
                expire_tombstones: bool = True,
                max_delta_files_per_bucket: int | None = None,
                max_records_per_file: int | None = None) -> int:
        """Table maintenance rewrite: expire retained tombstones AND fold
        MOR delta files back into base — the GC pass that keeps both
        tombstone retention and read-side delta resolution bounded at scale
        (Iceberg expire-tombstones + rewrite_data_files in one snapshot).

        Drops stored ``op='D'`` rows whose first ordering column is <= the
        watermark: a seq below which the source guarantees no out-of-order
        event can still arrive (the batch analogue of a streaming watermark).
        ``None`` drops every tombstone (caller asserts the log is fully
        applied). Rewrites only buckets holding expirable tombstones or
        pending delta files (rewritten buckets come out delta-free — point
        reads there stop paying the LWW fold); returns the new snapshot
        version (current version if nothing to do).

        ``expire_tombstones=False`` makes this a pure delta fold — the mode
        an automated maintenance loop wants, since expiring tombstones is a
        correctness decision (a straggler below the watermark could then
        resurrect a deleted row) that belongs to an operator-set watermark,
        not a cadence policy. ``max_delta_files_per_bucket=K`` folds only
        buckets whose delta DEBT reached K files (see :meth:`delta_debt`):
        at a seconds-cadence MOR ingest, folding every bucket on every
        trigger would re-pay COW's write amplification — the threshold
        amortizes one bucket rewrite over K cheap delta appends.

        ``max_records_per_file`` bounds rewritten file sizes (buckets at
        10^10-row scale are far past one healthy parquet file); files stay
        key-grouped per bucket, so every read path is unchanged.
        """
        m = self._manifest()
        deltas = self._delta_map(m)

        def expired(df: DataFrame):
            cond = F.coalesce(F.col(self.op_col), F.lit("U")) == "D"
            if tombstone_watermark is not None:
                cond = cond & (F.col(self.order_cols[0]) <= F.lit(tombstone_watermark))
            return cond

        # tombstone detection over the RESOLVED view: non-delta buckets are
        # already one-row-per-key (resolved == raw there), and delta-bearing
        # buckets are rewritten regardless, so nothing expirable is missed
        tomb_buckets: set[str] = set()
        if expire_tombstones:
            stored = self._resolved_stored(m)
            tomb_buckets = {
                str(r[0])
                for r in stored.where(expired(stored))
                .select(self._bucket_col(stored).alias(_BUCKET))
                .distinct()
                .collect()
            }
        fold = {
            b
            for b, fl in deltas.items()
            if fl
            and (max_delta_files_per_bucket is None
                 or len(fl) >= max_delta_files_per_bucket)
        }
        rewrite = tomb_buckets | fold
        if not rewrite:
            return m["version"]

        part = self._resolved_stored(m, rewrite)
        keep = part.where(~expired(part)) if expire_tombstones else part
        return self._commit_rewrite(
            m, keep.withColumn(_BUCKET, self._bucket_col(keep)),
            {"operation": "compact",
             "folded_delta_buckets": sum(1 for b in rewrite if deltas.get(b)),
             **(summary or {})},
            rewrite=rewrite, max_records_per_file=max_records_per_file,
        )

    def _stats_bounds(
        self, m: dict, cols: list
    ) -> dict | None:
        """Table-wide [min, max] per column folded from the manifest's
        per-file stats — None unless EVERY data/delta file carries stats
        for EVERY requested column (a partial fold could under-span and
        saturate z-ranks at the edges). Numeric stats only: parquet footer
        min/max for strings are truncation-prone and recluster's z-path is
        numeric-only anyway."""
        stats = m.get("file_stats") or {}
        files = list(self._data_files(m))
        if not files:
            return None
        out: dict = {}
        for c in cols:
            lo = hi = None
            for f in files:
                rng = stats.get(f, {}).get(c)
                if not rng or not all(
                    isinstance(x, (int, float)) and not isinstance(x, bool)
                    for x in rng
                ):
                    return None
                lo = rng[0] if lo is None else min(lo, rng[0])
                hi = rng[1] if hi is None else max(hi, rng[1])
            out[c] = (float(lo), float(hi))
        return out

    def recluster(
        self,
        cluster_cols: Iterable[str],
        *,
        max_records_per_file: int,
        strategy: str = "zorder",
        zbits: int = 8,
        summary: dict | None = None,
    ) -> int:
        """Layout maintenance rewrite for SCAN locality (Iceberg
        ``rewrite_data_files(strategy='sort', sort_order='zorder(...)')``
        analogue): rewrite every bucket with rows sorted by the interleaved
        z-order key of ``cluster_cols`` (``strategy="zorder"``, numeric
        columns — see :func:`zorder_key`) or lexically by them
        (``strategy="sort"``), split into order-contiguous files of at most
        ``max_records_per_file`` rows.

        The bucket-hash layout (and therefore merge/read_keys pruning) is
        untouched — clustering only reorders rows WITHIN each bucket — but
        every data file now covers a tight [min, max] slab of the clustered
        columns, so ``read_range`` on ANY of them (requires ``stats_cols``
        covering the column) skips most files inside every surviving
        bucket. This is the secondary-dimension access path a key-bucketed
        CDC table otherwise lacks: point lookups prune by key buckets,
        range scans prune by clustered file slabs.

        Cost: one full read → the existing single exchange on the bucket
        key → per-bucket sort → rewrite; identical shape to ``rebucket``
        plus the in-task sort. Like compaction, subsequent merges re-dirty
        touched buckets (COW rewrites them UNsorted; MOR appends deltas) —
        recluster on the same maintenance cadence as compact. MOR deltas
        are folded; tombstones are carried (retention semantics survive).
        Returns the new snapshot version."""
        if strategy not in ("zorder", "sort"):
            raise ValueError(f"strategy must be 'zorder' or 'sort' (got {strategy!r})")
        cluster_cols = list(cluster_cols)
        if not cluster_cols:
            raise ValueError("cluster_cols must be non-empty")
        t0 = time.time()
        m = self._manifest()
        stored = self._resolved_stored(m)
        data = stored.withColumn(_BUCKET, self._bucket_col(stored))
        if strategy == "zorder":
            # table-wide bounds: free from the manifest when file_stats
            # cover every file for every clustered column (fold of per-file
            # [min, max] — zero scans); else one tiny agg
            bounds = self._stats_bounds(m, cluster_cols)
            if bounds is None:
                row = stored.agg(
                    *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cluster_cols],
                    *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cluster_cols],
                ).collect()[0]
                bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cluster_cols}
            data = data.withColumn(_ZV, zorder_key(cluster_cols, bounds, zbits))
            order_by: list = [_ZV]
        else:
            order_by = [F.col(c).asc_nulls_first() for c in cluster_cols]
        return self._commit_rewrite(
            m, data,
            {"operation": "recluster", "strategy": strategy,
             "cluster_cols": cluster_cols,
             "max_records_per_file": int(max_records_per_file),
             **(summary or {})},
            t0=t0, order_by=order_by, max_records_per_file=max_records_per_file,
        )

    def rebucket(self, n_buckets: int, summary: dict | None = None) -> int:
        """Layout migration: rewrite the whole table under a new bucket
        count, as one snapshot.

        A table sized for 32 buckets at bootstrap needs ~4096 once it holds
        100 TB — COW merge cost tracks touched buckets, so bucket count must
        grow with the table (BENCH/BASELINE.md's bucket-count realism row).
        This is the sanctioned migration: a full read → one exchange on the
        new HashPartitioning(key_cols, n) → bucketed rewrite (tombstones
        carried along — retention semantics survive the move). Subsequent
        opens adopt the manifest's new count (``_validate_manifest``), so a
        handle constructed with a stale default cannot split the layout.
        Time travel to pre-rebucket snapshots still works: each manifest
        carries its own n_buckets. This is also the documented rewrite path
        for a future BUCKET_FN_ID change (read with the old build, rebucket
        with the new). Pending MOR deltas are folded by the resolved read —
        the rebucketed snapshot is delta-free."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1 (got {n_buckets})")
        t0 = time.time()
        m = self._manifest()  # adopts the CURRENT count for the read
        stored = self._resolved_stored(m)
        old_n = self.n_buckets
        self.n_buckets = n_buckets
        try:
            return self._commit_rewrite(
                m, stored.withColumn(_BUCKET, self._bucket_col(stored)),
                {"operation": "rebucket", "from_buckets": old_n,
                 "to_buckets": n_buckets, **(summary or {})},
                t0=t0,
            )
        except BaseException:
            self.n_buckets = old_n  # failed rewrite must not poison the handle
            raise

    def fsck(self, deep: bool = False) -> dict:
        """Integrity check (Iceberg table-maintenance audit analogue):
        verify every retained manifest's invariants against the filesystem
        and report — never mutate. Catches the failure classes a CAS-file
        lake can actually hit: a data file deleted out-of-band (backup
        restore, manual rm), a manifest edited by hand, stats/bloom
        sidecar references to vanished files.

        Checks per committed manifest: (a) every referenced data/delta
        file exists; (b) bucket-count/key/order/bucket-fn fields pass
        ``_validate_manifest``; (c) ``file_stats`` and bloom sidecar refs
        point only at referenced files; (d) parent chain resolves.
        ``deep=True`` additionally re-reads every CURRENT-snapshot data
        file's footer (row count readable = parquet magic + footer
        intact) — an O(files) metadata pass, no data scan.

        Returns ``{ok, missing_files, stale_stats, stale_blooms,
        broken_parents, bad_manifests, checked_manifests, checked_files,
        unreadable_files}``; ``ok`` is True iff every list is empty. Scale:
        pure driver-side manifest walking (manifests are O(files) JSON);
        the deep pass opens footers only — run it on the maintenance
        cadence, not per merge."""
        report = {
            "missing_files": [], "stale_stats": [], "stale_blooms": [],
            "broken_parents": [], "bad_manifests": [],
            "checked_manifests": 0, "checked_files": 0,
            "unreadable_files": [],
        }
        versions = self._committed_versions()
        vset = set(versions)
        for v in versions:
            try:
                m = self._load_manifest(v)
            except Exception as e:  # noqa: BLE001 — report, never raise
                report["bad_manifests"].append({"version": v, "err": repr(e)[:200]})
                continue
            report["checked_manifests"] += 1
            parent = m.get("parent_version")
            if parent is not None and parent not in vset:
                report["broken_parents"].append({"version": v, "parent": parent})
            referenced = set(self._data_files(m))
            for f in sorted(referenced):
                report["checked_files"] += 1
                if not os.path.exists(os.path.join(self.path, f)):
                    report["missing_files"].append({"version": v, "file": f})
            for f in (m.get("file_stats") or {}):
                if f not in referenced:
                    report["stale_stats"].append({"version": v, "file": f})
            for f in (m.get("bloom_refs") or {}):
                if f not in referenced:
                    report["stale_blooms"].append({"version": v, "file": f})
        if deep and versions:
            refs = set(self._data_files(self._load_manifest(versions[-1])))
            import pyarrow.parquet as pq
            for f in sorted(refs):
                p = os.path.join(self.path, f)
                if not os.path.exists(p):
                    continue  # already in missing_files
                try:
                    pq.ParquetFile(p).metadata.num_rows
                except Exception as e:  # noqa: BLE001
                    report["unreadable_files"].append(
                        {"file": f, "err": repr(e)[:200]}
                    )
        report["ok"] = not any(
            report[k] for k in (
                "missing_files", "stale_stats", "stale_blooms",
                "broken_parents", "bad_manifests", "unreadable_files",
            )
        )
        return report

    def rollback(self, version: int | str, summary: dict | None = None) -> int:
        """Roll the table back to an earlier snapshot by committing a NEW
        snapshot that reuses the target's manifest verbatim (Iceberg
        ``rollback_to_snapshot`` semantics, implemented roll-FORWARD so
        history is never rewritten and concurrent readers never see the
        head move backwards). ``version`` is an int or a tag name.

        Zero data movement: the new manifest points at the target's data
        files, delta files, file_stats and blooms unchanged — rollback is
        one manifest write + one CAS link regardless of table size.

        ``parent_version`` is the ROLLBACK TARGET, not the pre-rollback
        head: the rolled-back snapshots drop off the ancestor chain, so
        (a) ``committed_batch_ids`` stops claiming their batch ids and a
        re-apply of an undone batch lands again (exactly-once is a promise
        about *surviving* state, not about abandoned history), and
        (b) ``read_changes(pre_rollback_head, rollback_version)`` emits the
        retraction stream downstream consumers need to unwind.

        The ops lever WAP doesn't cover: ``publish_staged`` gates *staged*
        work, ``rollback`` un-does an already-published snapshot (bad merge
        noticed late, upstream replay poisoned a range, ...)."""
        cur = self._manifest()["version"]
        m = dict(self._manifest(version))  # raises if expired/missing
        target = m["version"]
        if target == cur:
            raise ValueError(f"version {target} is already the current head")
        m["version"] = cur + 1
        m["parent_version"] = target
        m["summary"] = {
            "operation": "rollback",
            "rollback-to": target,
            "rolled-back-head": cur,
            **(summary or {}),
        }
        # batch-id must NOT carry over: this commit re-publishes old state,
        # it does not re-apply the target's batch.
        m["summary"].pop("batch-id", None)
        self._commit(m)
        # the bid cache may hold ids from the now-abandoned branch; drop it
        # so the next committed_batch_ids() walks the surviving chain only
        self._bid_cache = (None, None)
        return cur + 1

    def _mor_width(self) -> int:
        """Exchange width of a MOR apply: the largest divisor of
        ``n_buckets`` not above the default parallelism. A divisor keeps
        every bucket in exactly one task (pmod(h, w) is a function of
        pmod(h, n_buckets) when w divides n_buckets), so each commit still
        writes one delta file per touched bucket, while the task count
        tracks the cores rather than the bucket count. A divisor below half
        the parallelism (an odd bucket count) would collapse the apply into
        a few tasks; the full bucket count is used then."""
        par = self.spark.sparkContext.defaultParallelism
        n = self.n_buckets
        w = max(d for d in range(1, min(par, n) + 1) if n % d == 0)
        return w if 2 * w >= par else n

    def merge(self, batch: DataFrame, batch_id: str, summary: dict | None = None,
              mode: str | None = None,
              stage_as: str | None = None) -> MergeStats:
        """Apply one change batch: ONE Spark job under merge-on-read, a
        key-only stats job plus the apply job under copy-on-write, no
        caching barrier.

        1. *Stats job* (COW and the bootstrap merge only, cheap): per-bucket
           event counts computed from the KEY COLUMNS ONLY (cast to the
           stored key dtypes) — a column-pruned scan whose shuffle payload
           is at most ``n_buckets`` pre-aggregated rows per map task.
           Yields ``rows_in`` and the affected-bucket set that picks the
           target files the COW apply rewrites.
        2. *Apply job* (fused): union(raw batch, affected target rows) →
           ONE LWW sort-aggregation whose exchange hashes the key columns
           exactly as the bucket function does, so the bucketed write
           follows with no further exchange. Delete/key stats ride
           along as ``Observation`` metrics on the write action. Nothing
           between batch scan and committed files but ONE exchange.

        ``mode`` (default: the handle's ``merge_mode``) selects the write
        strategy:

        * ``"cow"`` — copy-on-write: job 2 unions the batch with the
          affected buckets' stored rows (base AND any pending delta files)
          and rewrites those buckets, clearing their delta lists. Read
          cost stays O(1 file read per bucket); write cost is
          O(touched-bucket bytes).
        * ``"mor"`` — merge-on-read (Iceberg v2 analogue): the apply
          collapses the batch ALONE (no target scan at all) and appends the
          result as per-bucket DELTA files; base files are untouched. Write
          cost is O(batch bytes) — at 100 TB, a scattered 1k-row update
          batch writes kilobytes instead of rewriting every touched
          bucket's gigabytes. Since no target file has to be chosen, the
          stats job is skipped: ``rows_in`` is an ``Observation`` count of
          the batch rows, and the affected buckets are the bucket
          directories the write produced (LWW keeps one row per key,
          tombstones included, so that is the set the stats job would
          compute). Reads of delta-bearing buckets pay the LWW fold
          (``_resolved_stored``) until ``compact()`` folds deltas back
          into base. The batch-id ledger, CAS commit, schema evolution and
          tombstone retention rules are identical in both modes, and a
          table may alternate modes freely batch-to-batch (the hot-path
          ingest runs MOR at high cadence; a maintenance window compacts).
          A MOR merge on a not-yet-existing table falls back to COW — the
          bootstrap write IS the base.

        ``stage_as`` (write-audit-publish, Iceberg ``spark.wap.id``
        analogue): when set, the merge runs its full compute and data
        write but commits a STAGED manifest under that id instead of
        moving the table head. Audit the result with
        ``read_staged(wap_id)``, then ``publish_staged(wap_id)``
        (atomic fast-forward; conflicts if the head moved) or
        ``discard_staged(wap_id)``. The batch id is committed only on
        publish, so a discarded batch can be re-merged.
        """
        t0 = time.time()
        bid = str(batch_id)
        if stage_as is not None:
            stage_as = self._check_ref_name(stage_as)
        # the one listing of manifests/ in a merge
        cur_version = self._current_version()
        exists = cur_version is not None
        if bid in self._batch_ids(cur_version):
            return MergeStats(batch_id=bid, applied=False, skipped_reason="already-committed",
                              total_buckets=self.n_buckets)

        # Resolve the merged schema BEFORE any hashing: the bucket function
        # (murmur3) is dtype-sensitive, so affected buckets must be computed
        # on keys cast to the STORED key dtypes — hashing the batch's raw
        # dtypes (e.g. int where the table stores long) would compute a
        # different bucket set than the one the aligned rows are written
        # under, and the manifest update would then replace untouched
        # buckets' file lists, silently dropping their rows.
        batch_schema = T.StructType(
            [f for f in batch.schema.fields if f.name != self.op_col]
        )
        old_manifest = old_schema = None
        old_delta: dict = {}
        new_schema = batch_schema
        if exists:
            old_manifest = self._parent(cur_version)
            self._validate_manifest(old_manifest)
            old_delta = self._delta_map(old_manifest)
            old_schema = T.StructType.fromJson(old_manifest["schema"])
            new_schema = _merge_schemas(old_schema, batch_schema, self.key_cols)
        mode = self.merge_mode if mode is None else mode
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor' (got {mode!r})")
        mor = mode == "mor" and exists  # bootstrap merge IS the base write

        def finish(schema_json: dict, files: dict, delta: dict, extra: dict,
                   phase_ms: dict, **counts) -> MergeStats:
            """Write the manifest, commit (or stage) it, report the merge."""
            t_commit = time.time()
            manifest = self._new_manifest(
                old_manifest, schema_json, files,
                {"operation": "merge", "batch-id": bid, **extra,
                 **({"wap-id": stage_as} if stage_as else {}),
                 **(summary or {})},
                delta_files=delta,
            )
            if stage_as is not None:
                self._commit_staged(manifest, stage_as)
            else:
                self._commit(manifest)
            if phase_ms:
                phase_ms["commit"] = round((time.time() - t_commit) * 1000, 1)
            return MergeStats(
                batch_id=bid, applied=stage_as is None, **counts,
                total_buckets=self.n_buckets, snapshot_version=manifest["version"],
                staged_as=stage_as,
                skipped_reason="staged" if stage_as is not None else None,
                wall_ms=(time.time() - t0) * 1000, phase_ms=phase_ms,
            )

        def finish_empty() -> MergeStats:
            # still commit: the batch id must be recorded for resume skips
            return finish(
                (old_manifest or {}).get("schema", batch_schema.jsonValue()),
                dict((old_manifest or {}).get("files", {})), old_delta, {}, {},
                rows_in=0,
            )

        phase_ms: dict[str, float] = {}
        if not mor:
            # ---- job 1 (COW): affected buckets + rows_in, key columns
            #      only, keys cast to the merged (== stored) dtypes ----
            t_stats = time.time()
            keys_cast = batch.select(
                *[F.col(k).cast(new_schema[k].dataType).alias(k) for k in self.key_cols]
            )
            bucket_rows = (
                keys_cast
                .groupBy(self._bucket_col(keys_cast).alias(_BUCKET))
                .agg(F.count("*").alias("n_events"))
                .collect()
            )
            phase_ms["stats"] = round((time.time() - t_stats) * 1000, 1)
            rows_in = int(sum(r["n_events"] for r in bucket_rows))
            affected = sorted(int(r[_BUCKET]) for r in bucket_rows)
            affected_set = {str(b) for b in affected}
            if rows_in == 0:
                return finish_empty()

        # ---- job 2: fused union + LWW + bucketed write ----
        # MOR reads NO target at all (the whole point: write cost tracks
        # the batch, not the touched buckets); COW reads base files AND any
        # pending delta files of the affected buckets — every stored row
        # re-enters the LWW at its own seq, so a COW merge atop earlier MOR
        # deltas folds them into the rewrite (their delta lists clear below)
        if exists and not mor:
            target_files = [
                f for b, fl in old_manifest["files"].items() if b in affected_set for f in fl
            ]
            target_files += [
                f for b in affected_set for f in old_delta.get(b, [])
            ]
            target = self._read_files(target_files, self._stored_schema(old_schema))
        else:
            target = None

        def align(df: DataFrame) -> DataFrame:
            cols = []
            for f in new_schema.fields:
                if f.name in df.columns:
                    cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            cols.append(F.col(self.op_col))
            return df.select(*cols)

        from pyspark.sql import Observation

        # stored rows (incl. retained tombstones) re-enter the merge as
        # events at their own seq, so out-of-order/duplicate batches cannot
        # regress the table; pre-tombstone overwrite files read op=null
        unioned = align(batch)
        if mor:
            # rows_in without a job of its own: counted as the batch rows
            # stream into the apply exchange
            obs_in = Observation()
            unioned = unioned.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
        if target is not None:
            target_ev = align(target).withColumn(
                self.op_col, F.coalesce(F.col(self.op_col), F.lit("U"))
            )
            unioned = unioned.unionByName(target_ev)

        # dictionary-encode op through the apply exchange: a 1-char string
        # field costs 16 bytes in an UnsafeRow (8-byte fixed slot + 8-byte
        # aligned data) per event, per map-side agg buffer, per shuffle
        # block; a tinyint costs 8. The op domain is the CDC contract
        # {I, U, D} (null reads as U everywhere; the engine only ever
        # distinguishes D vs non-D), so the decode normalizes any
        # out-of-contract string to 'U' — behaviorally identical to how
        # every read path already treats it.
        unioned = unioned.withColumn(
            self.op_col,
            F.when(F.col(self.op_col) == "D", F.lit(0))
            .when(F.col(self.op_col) == "I", F.lit(1))
            .otherwise(F.lit(2))
            .cast("tinyint"),
        )

        # ONE sort-agg LWW over the union, whose own shuffle IS the bucket
        # layout. The exchange width depends on the mode:
        # * MOR: HashPartitioning(key_cols, _mor_width()) via an explicit
        #   repartition — a divisor of n_buckets, so every bucket lands in
        #   one task and each commit writes one key-sorted delta file per
        #   touched bucket; its apply carries ONLY batch rows, so an
        #   n_buckets-wide exchange would schedule mostly-empty tasks
        #   (4096-bucket tables, dozen-key batches).
        # * COW, full-width batch: spark.sql.shuffle.partitions pinned to
        #   n_buckets (AQE, and with it partition coalescing, is off for
        #   this job) makes the aggregation exchange HashPartitioning(key_cols, n_buckets) — the
        #   exact bucket function — so partition id == bucket id and the
        #   bucketed write needs no repartition. Partial aggregation runs
        #   map-side BEFORE this exchange (hot-key combine: a hot repo
        #   costs each reducer O(map_partitions), not O(events)).
        # * COW, narrow batch (affected buckets ≤ n_buckets/2): the
        #   exchange is sized to the affected-bucket count by an explicit
        #   repartition, which still satisfies the LWW groupBy's
        #   distribution (no extra exchange); the partitionBy write splits
        #   each task's rows into per-bucket files (a bucket may then hold
        #   >1 file — the manifest tracks file lists per bucket).
        spark = self.spark
        saved_conf: dict[str, str] = {}

        def set_conf(k: str, v: str) -> None:
            saved_conf[k] = spark.conf.get(k)
            spark.conf.set(k, v)

        t_apply = time.time()
        commit_id = uuid.uuid4().hex[:12]
        keys = [F.col(k) for k in self.key_cols]
        # the conf save -> apply -> restore runs under one process-wide
        # lock: two merges interleaving it would each restore the other's
        # values and leave them on the shared session
        with _APPLY_CONF_LOCK:
            try:
                # AQE off for the apply job: its exchange partitioning is
                # FIXED by design (it IS the bucket layout / the affected-
                # bucket count), the LWW aggregation needs no skew-join
                # splitting (map-side partial agg already bounds hot keys),
                # so adaptive execution has nothing to adapt — it only
                # inserts a QueryStage materialization barrier plus a driver
                # re-optimization round trip per merge, pure serial floor
                # at any batch cadence
                set_conf("spark.sql.adaptive.enabled", "false")
                if mor:
                    unioned = unioned.repartition(self._mor_width(), *keys)
                elif len(affected) <= self.n_buckets // 2:
                    unioned = unioned.repartition(len(affected), *keys)
                else:
                    set_conf("spark.sql.shuffle.partitions", str(self.n_buckets))
                merged = lww_latest(unioned, self.key_cols, self.order_cols)
                # decode op back to the stored string form (see encode above)
                merged = merged.withColumn(
                    self.op_col,
                    F.when(F.col(self.op_col) == 0, F.lit("D"))
                    .when(F.col(self.op_col) == 1, F.lit("I"))
                    .otherwise(F.lit("U")),
                )
                stored = merged.withColumn(_BUCKET, self._bucket_col(merged))
                obs = Observation()
                stored = stored.observe(
                    obs,
                    F.count(F.lit(1)).alias("n_keys"),
                    F.sum(
                        F.when(F.col(self.op_col) == "D", 1).otherwise(0)
                    ).alias("n_del"),
                )
                # a MOR task holds several buckets: sort by key within each
                # so files stay key-sorted (read_keys' row-group pruning)
                new_files = self._write_buckets(
                    stored, commit_id, pre_partitioned=True,
                    order_by=keys if mor else None,
                )
            finally:
                for k, v in saved_conf.items():
                    spark.conf.set(k, v)
        phase_ms["apply"] = round((time.time() - t_apply) * 1000, 1)
        metrics = obs.get
        n_keys = int(metrics["n_keys"] or 0)
        n_del = int(metrics["n_del"] or 0)

        if mor:
            rows_in = int(obs_in.get["rows_in"] or 0)
            if rows_in == 0:
                # the write left an empty commit dir behind
                shutil.rmtree(os.path.join(self.path, "data", commit_id), ignore_errors=True)
                return finish_empty()
            affected = sorted(int(b) for b in new_files)
            # base untouched; this commit's files append to the affected
            # buckets' delta lists
            files = dict(old_manifest["files"])
            delta = {b: list(fl) for b, fl in old_delta.items()}
            for b, fl in new_files.items():
                delta[b] = delta.get(b, []) + fl
        else:
            files = (
                {b: fl for b, fl in old_manifest["files"].items() if b not in affected_set}
                if exists else {}
            )
            files.update(new_files)
            # the COW rewrite folded the affected buckets' deltas into base
            delta = {b: fl for b, fl in old_delta.items() if b not in affected_set}

        return finish(
            new_schema.jsonValue(), files, delta, {"mode": mode}, phase_ms,
            rows_in=rows_in, deletes=n_del, upserts=n_keys - n_del,
            affected_buckets=affected,
        )
