"""Per-data-file key Bloom filters — manifest-level file skipping for
point lookups (the Iceberg *puffin* blob / Delta deletion-vector-sidecar
analogue, stored as JSON sidecars the manifest points at).

Why this exists: :meth:`SnapshotTable.read_keys` already prunes at two
levels — bucket (manifest file lists) and row group (``In`` pushdown into
key-sorted parquet). What neither level can do is skip a whole FILE inside
a surviving bucket: under merge-on-read a hot bucket accumulates many
small delta files, and a lookup key typically lives in one of them. A
per-file Bloom filter over the key tuple answers "is this key definitely
absent from this file?" from the manifest alone — zero file opens for the
misses. At 10^10 rows with 4096 buckets and tens of MOR deltas per bucket,
that is the difference between opening ~40 delta files per lookup and
opening ~1.

Design constraints honoured:

* **Build is distributed** — one column-pruned Spark scan of ONLY the
  newly committed files (key columns + two JVM-side hashes), grouped by
  ``input_file_name``; the per-file bitset is assembled by a vectorized
  pandas group (numpy bit-ops, no per-row Python). The driver never sees
  row-level data, only one (file, bitset) row per new file.
* **Probe needs no Python reimplementation of Spark's hashes** — the
  double-hash pair is (murmur3 ``F.hash``, ``F.xxhash64``), computed for
  the probe keys by a tiny Spark job on the (small, bounded) key list, so
  build and probe use byte-identical hash functions by construction.
* **Deterministic** — position_i = (h1 + i*h2) mod m in uint64 wraparound
  arithmetic; identical in numpy (build) and Python ints masked to 64 bits
  (probe).
* **Conservative** — a file without a bloom is always read; a bloom can
  only produce false POSITIVES (extra file opens), never false negatives.

Storage layout (Iceberg's puffin layout): filter BYTES live in one
``manifests/blooms-*.json`` sidecar per commit, keyed by relative data-file
path; the manifest itself carries only ``bloom_refs`` {path: sidecar} string
pointers. Manifest size stays O(files) — a 1% FPP bloom is ~1.2 bytes/key,
which inlined would dwarf the manifest at 10^10 rows — and a reader fetches
filter bytes only for the sidecars its probed buckets actually reference.
"""

from __future__ import annotations

import base64
import math

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MASK64 = (1 << 64) - 1
_MAX_K = 8


def _size_for(rows: int, fpp: float) -> tuple[int, int]:
    """(m bits, k probes) for a target false-positive rate. m is rounded
    up to a byte multiple with a 64-bit floor so empty/tiny files still
    carry a well-formed filter."""
    rows = max(1, rows)
    m = math.ceil(-rows * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, min(_MAX_K, round(m / rows * math.log(2))))
    return m, k


def _hash_cols(key_cols: list[str]):
    """The double-hash column pair. Both run JVM-side (whole-stage
    codegen); murmur3 and xxhash64 are independent enough for the
    Kirsch-Mitzenmacher (h1 + i*h2) construction."""
    cols = [F.col(c) for c in key_cols]
    return (
        F.hash(*cols).cast("long").alias("_h1"),
        F.xxhash64(*cols).alias("_h2"),
    )


def build_file_blooms(
    spark: SparkSession,
    abs_paths: dict[str, str],
    key_cols: list[str],
    fpp: float = 0.01,
    key_schema: StructType | None = None,
) -> dict[str, dict]:
    """Build {relpath: {"m": bits, "k": probes, "fpp": f, "b64": bitset}}
    for the given {relpath: absolute path} map, in ONE distributed job:
    column-pruned scan of the key columns, two JVM hashes, one shuffle
    keyed by file, numpy bitset assembly per group. ``key_schema`` (the
    stored key columns' fields) spares the scan its schema-inference job."""
    if not abs_paths:
        return {}
    # input_file_name() returns a file: URI; match manifests' relative
    # paths back by suffix (relative paths are unique within a table —
    # they embed the commit id)
    by_suffix = {rel.replace("\\", "/"): rel for rel in abs_paths}

    reader = spark.read if key_schema is None else spark.read.schema(key_schema)
    df = reader.parquet(*abs_paths.values()).select(
        F.input_file_name().alias("_file"), *_hash_cols(key_cols)
    )

    def _agg(pdf):
        import pandas as pd

        m, k = _size_for(len(pdf), fpp)
        h1 = pdf["_h1"].to_numpy(dtype=np.int64).astype(np.uint64)
        h2 = pdf["_h2"].to_numpy(dtype=np.int64).astype(np.uint64)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(bits, pos >> np.uint64(3),
                             np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        return pd.DataFrame(
            {"_file": [pdf["_file"].iloc[0]], "m": [m], "k": [k],
             "b64": [base64.b64encode(bits.tobytes()).decode()]}
        )

    rows = (
        df.groupBy("_file")
        .applyInPandas(_agg, schema="_file string, m int, k int, b64 string")
        .collect()
    )
    out: dict[str, dict] = {}
    for r in rows:
        uri = r["_file"].split("://", 1)[-1].replace("\\", "/")
        rel = next((v for s, v in by_suffix.items() if uri.endswith(s)), None)
        if rel is None:  # unmatched file — skip rather than mis-key
            continue
        out[rel] = {"m": int(r["m"]), "k": int(r["k"]),
                    "fpp": fpp, "b64": r["b64"]}
    return out


def probe_hashes(
    spark: SparkSession, keys: list[tuple], key_schema
) -> list[tuple[int, int]]:
    """(h1, h2) for each probe key, computed by the SAME Spark expressions
    the build used. The key list is small by read_keys' contract, so this
    is a tiny local job."""
    kdf = spark.createDataFrame(keys, schema=key_schema)
    return [
        (r["_h1"], r["_h2"])
        for r in kdf.select(*_hash_cols(key_schema.fieldNames())).collect()
    ]


def maybe_contains_any(bloom: dict, hashes: list[tuple[int, int]]) -> bool:
    """True iff the filter says at least one probe key MAY be present
    (i.e. the file cannot be skipped). Mirrors the build's uint64
    position arithmetic exactly."""
    m, k = bloom["m"], bloom["k"]
    bits = base64.b64decode(bloom["b64"])
    for h1, h2 in hashes:
        h1u, h2u = h1 & _MASK64, h2 & _MASK64
        if all(
            bits[p >> 3] & (1 << (p & 7))
            for p in (((h1u + i * h2u) & _MASK64) % m for i in range(k))
        ):
            return True
    return False
