"""The benchmark workloads. Each drives the engine's public API on
inputs generated from the seed, times its phases, and checks its outputs.

A workload object has three steps, called by ``run.py``:

* ``setup(rep)`` writes the inputs (timed as ``setup_s``: the median of
  ``setup_reps`` set-ups);
* ``measure(tr, tag)`` warms up on throwaway tables through the same path,
  then runs the timed phase under the root span ``bench.timed`` and checks
  correctness; it returns a ``Measured``;
* sizes come from ``--seconds`` and ``--size`` only, never from timing, so a
  run does the same work on every seed.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.operators import dedup
from arches_rascoll_etl_spark.operators.lww import final_state
from arches_rascoll_etl_spark.operators.quarantine import REASON_COL
from arches_rascoll_etl_spark.sources.cdc_envelope import (
    RAW_COL,
    parse_cdc_envelope,
    to_cdc_envelope,
)
from arches_rascoll_etl_spark.streaming.checkpoint import Checkpoint
from arches_rascoll_etl_spark.streaming.metrics import LineageLog
from arches_rascoll_etl_spark.streaming.pipeline import replay
from arches_rascoll_etl_spark.synth import LANGS, ChangeLogConfig, change_log

from measure import dir_bytes, tree_cpu_s


@dataclass
class Measured:
    """What one timed phase produced."""

    work: float  # units of work done in the timed throughput phase
    work_wall_s: float  # wall of that phase
    batch_ms: list[float]
    lookup_ms: list[float]
    bytes_in: int
    bytes_out: int
    cpu_s: float
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)


def checksum(df, cols: list[str]) -> tuple:
    """(row count, bit_xor of xxhash64 over ``cols``): order-free table digest."""
    r = df.select(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
    return r["n"], r["x"]


def _ms_since(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def _key(repo_idx: int, path_idx: int) -> tuple[str, str]:
    """A (repo, path) key exactly as ``synth.change_log`` formats it."""
    lang = LANGS[path_idx % len(LANGS)]
    return (f"org/repo_{repo_idx:05d}", f"src/pkg_{path_idx % 17:02d}/mod_{path_idx:04d}.{lang}")


def _lookup_keys(rng: random.Random, cfg: ChangeLogConfig, k: int) -> list[tuple[str, str]]:
    return [
        _key(rng.randrange(cfg.n_repos), rng.randrange(cfg.paths_per_repo)) for _ in range(k)
    ]


def _timed_lookups(tr, table, keysets) -> list[float]:
    out = []
    for keys in keysets:
        t0 = time.perf_counter()
        with tr.span("snapshot.read_keys", "read_keys"):
            table.read_keys(keys).collect()
        out.append(_ms_since(t0))
    return out


# ------------------------------------------------------------ MOR tail

RECORD = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("txid", T.LongType()),
])
TXN_EVENTS = 5  # consecutive events per source transaction
BAD_PCT = 1  # share of malformed envelopes, percent


class TailMor:
    """Closed loop, one client: small Debezium envelope batches (~1 %
    malformed, source txids) → parse → ``replay()`` with quarantine and txn
    split into a MOR table with key blooms; after each commit, point
    lookups, one incremental read of the new commit, and threshold
    compaction (as ``stream_into_table`` does)."""

    name = "tail_mor"
    K = 4  # delta files per bucket that trigger compaction
    # a set-up is ~0.5 s of Spark jobs once warm; the first one, in a fresh
    # Spark session, takes ~3 s and the second is still slower than the rest
    setup_reps = 4

    def __init__(self, spark, workdir: str, seed: int, seconds: int, tiny: bool):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        per_batch = 200 if tiny else 1_000
        # measured batches: a multiple of K, so every run covers whole
        # compaction-debt cycles (one step costs ~8 s on a 4-core host)
        self.n_timed = self.K * max(1, round(seconds / (8 * self.K)))
        # warm-up: the throwaway table's creating commit and one more step;
        # a third step would come within ~10 % of the timed steps' median,
        # and the run time has no room for it
        self.n_warm = 1 if tiny else 2
        n_batches = self.n_warm + self.n_timed
        self.cfg = ChangeLogConfig(
            n_events=per_batch * n_batches, n_repos=50,
            paths_per_repo=200 if tiny else 1_000, hot_fraction=0.2,
            n_batches=n_batches, schema_add_batch=n_batches, seed=seed,
        )
        self.reads_per_commit = 1
        self.env_path = None

    def _typed(self):
        return change_log(self.spark, self.cfg).withColumn(
            "txid", (F.col("commit_seq") / TXN_EVENTS).cast("long")
        )

    def _bad(self):
        return F.pmod(F.xxhash64(F.col("event_id"), F.lit(self.seed)), F.lit(100)) < BAD_PCT

    def setup(self, rep: int) -> None:
        self.env_path = os.path.join(self.workdir, f"input-{rep}", "envelopes")
        env = to_cdc_envelope(
            self._typed(), [f.name for f in RECORD.fields], seq_col="commit_seq",
            extra_cols=["event_id", "batch_id"],
        )
        # corrupt a seeded ~1 % with a unique suffix: each malformed message
        # is its own dead-letter key
        value = F.when(
            self._bad(), F.concat(F.substring("value", 1, 10), F.col("event_id").cast("string"))
        ).otherwise(F.col("value"))
        env.select(value.alias("value"), "batch_id").write.partitionBy("batch_id").parquet(
            self.env_path
        )

    def _provider(self, b: int):
        raw = self.spark.read.parquet(self.env_path).where(F.col("batch_id") == b)
        return parse_cdc_envelope(raw.select("value"), RECORD)

    def _tables(self, tag: str):
        base = os.path.join(self.workdir, tag)
        main = SnapshotTable(
            self.spark, os.path.join(base, "table"), merge_mode="mor", key_bloom_fpp=0.01
        )
        quar = SnapshotTable(
            self.spark, os.path.join(base, "quarantine"),
            key_cols=[RAW_COL], order_cols=["commit_seq"], n_buckets=4,
        )
        return main, quar, Checkpoint(os.path.join(base, "ckpt.json")), LineageLog(
            os.path.join(base, "lineage.jsonl")
        )

    def _prime(self, tag: str):
        """Tables with batch 0 applied, outside any timing: the first commit
        creates the table, and every later step has a commit to diff."""
        main, quar, ckpt, lineage = self._tables(tag)
        replay(main, ckpt, self._provider, [0], quarantine_table=quar, txn_col="txid")
        return main, quar, ckpt, lineage

    def _cycle(self, tr, main, quar, ckpt, lineage, b: int, keysets) -> dict:
        """One closed-loop step: apply batch b, read, compact."""
        t0 = time.perf_counter()
        with tr.span("pipeline.replay", "pipeline"):
            res = replay(
                main, ckpt, self._provider, [b], lineage=lineage,
                quarantine_table=quar, txn_col="txid",
            )
        batch_ms = _ms_since(t0)
        lookup_ms = _timed_lookups(tr, main, keysets)
        v = main.current_version()
        changes_ms = None
        if v > 0:  # the commit that created the table has nothing to diff
            t0 = time.perf_counter()
            with tr.span("snapshot.read_changes", "read_changes"):
                ch = main.read_changes(v - 1, v)
                n, _ = checksum(ch, ch.columns)
            changes_ms = _ms_since(t0)
            tr.add("snapshot.read_changes.rows", n)
        main.delta_debt()
        main.compact(expire_tombstones=False, max_delta_files_per_bucket=self.K)
        return {"batch_ms": batch_ms, "lookup_ms": lookup_ms, "changes_ms": changes_ms,
                "events": res.events}

    def _keysets(self, rng: random.Random) -> list:
        return [_lookup_keys(rng, self.cfg, 8) for _ in range(self.reads_per_commit)]

    def measure(self, tr, tag: str) -> Measured:
        # warm-up: the same loop on a throwaway table
        t_warm = time.perf_counter()
        wm, wq, wck, wl = self._tables(f"{tag}-warm")
        rng = random.Random(self.seed + 1)
        times = [
            self._cycle(tr, wm, wq, wck, wl, b, self._keysets(rng))["batch_ms"]
            for b in range(self.n_warm)
        ]
        warm_s = time.perf_counter() - t_warm

        main, quar, ckpt, lineage = self._prime(tag)
        rng = random.Random(self.seed)
        first = self.n_warm
        steps = []
        cpu0 = tree_cpu_s()
        with tr.timed():
            for b in range(first, first + self.n_timed):
                steps.append(
                    self._cycle(tr, main, quar, ckpt, lineage, b, self._keysets(rng))
                )
        cpu = tree_cpu_s() - cpu0
        t_gate = time.perf_counter()
        last = first + self.n_timed  # batches [first, last) timed, 0 primed

        # correctness: flush the txn carryover, then the table must equal
        # the LWW state of every valid event applied, and the dead-letter
        # table must hold exactly the injected malformed messages
        replay(main, ckpt, self._provider, [], quarantine_table=quar, txn_col="txid",
               txn_flush=True)
        applied = F.col("batch_id").isin(0, *range(first, last))
        typed = self._typed().where(applied)
        cols = sorted(f.name for f in RECORD.fields) + ["commit_seq"]
        want = final_state(typed.where(~self._bad())).select(*cols)
        failed = int(checksum(main.read(), cols) != checksum(want, cols))
        n_bad = typed.where(self._bad()).count()
        q = quar.read()
        q_rows = q.count()
        failed += int(q_rows != n_bad or q.where(F.col(REASON_COL) != "null_key").count() > 0)

        in_bytes = sum(
            dir_bytes(os.path.join(self.env_path, f"batch_id={b}"))[1]
            for b in (0, *range(first, last))
        )
        out_files, out_bytes = dir_bytes(main.path)
        return Measured(
            work=sum(s["events"] for s in steps),
            work_wall_s=sum(s["batch_ms"] for s in steps) / 1000.0,
            batch_ms=[s["batch_ms"] for s in steps],
            lookup_ms=[x for s in steps for x in s["lookup_ms"]],
            bytes_in=in_bytes, bytes_out=out_bytes + dir_bytes(quar.path)[1], cpu_s=cpu,
            attempted=len(steps) * (2 + self.reads_per_commit) + 2, failed=failed,
            extra={"changes_ms": [s["changes_ms"] for s in steps], "batches": len(steps),
                   "checkpoint_bytes": os.path.getsize(ckpt.path), "files_written": out_files,
                   "bytes_written": out_bytes, "quarantine_rows": q_rows, "warm_ms": times,
                   "warm_s": warm_s, "gate_s": time.perf_counter() - t_gate},
        )


# ------------------------------------------------------------ dedup

def _vocab(rng: random.Random, n: int = 2_000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 8))) for _ in range(n)]


def _corpus(
    rng: random.Random, vocab: list[str], n_docs: int, first_id: int
) -> tuple[list[int], list[str]]:
    """Documents of 10-100 words. Every fifth original has two near copies
    (one word appended each), so clusters are 3-cliques; the vocabulary is
    large enough that unrelated documents do not collide, so every shard
    has the same cluster shape and label propagation the same number of
    rounds. The lengths and the layout are the same for every seed; the
    seed picks the words and permutes the ids, which changes the
    label-propagation paths."""
    texts: list[str] = []
    while len(texts) < n_docs:
        doc = " ".join(rng.choice(vocab) for _ in range(10 + (len(texts) * 37) % 91))
        texts.append(doc)
        if len(texts) % 5 == 1:
            texts += [f"{doc} {rng.choice(vocab)}" for _ in range(2)]
    del texts[n_docs:]
    ids = list(range(first_id, first_id + n_docs))
    rng.shuffle(ids)
    return ids, texts


def _min_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """id → minimum id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class DedupClusters:
    """Near-duplicate removal over corpus shards: ``lsh_candidate_pairs`` →
    ``duplicate_clusters`` → ``dedup_corpus`` (written out), then cluster
    lookups on the labels."""

    name = "dedup_clusters"
    setup_reps = 9  # a set-up is ~50 ms of Python, so its median needs more

    def __init__(self, spark, workdir: str, seed: int, seconds: int, tiny: bool):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.n_docs = 60 if tiny else 200
        # one pass with its lookups costs ~1.2 s on a 4-core host once warm;
        # the first warm-up pass pays the JIT (~6 s); after the second, a
        # pass is within ~20 % of the timed passes' median (a third warm-up
        # pass and a seventh timed one made runs no steadier on a busy host)
        self.n_timed = max(2, round(seconds / 1.7))
        self.n_warm = 1 if tiny else 2
        self.lookups_per_pass = 6
        self.in_dir = None

    def setup(self, rep: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.in_dir = os.path.join(self.workdir, f"input-{rep}")
        rng = random.Random(self.seed)
        vocab = _vocab(rng)
        for s in range(self.n_warm + self.n_timed):
            ids, texts = _corpus(rng, vocab, self.n_docs, s * self.n_docs)
            os.makedirs(os.path.join(self.in_dir, f"shard-{s:03d}"))
            # uncompressed and plain-encoded, like the output: with random
            # words, snappy and dictionary choices made equal-length shards
            # differ by up to 2x in bytes, which write_amp would report
            pq.write_table(
                pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                os.path.join(self.in_dir, f"shard-{s:03d}", "part-0.parquet"),
                use_dictionary=False, compression="none",
            )

    def _pass(self, tr, shard: int, out_dir: str):
        with tr.span("dedup.lsh_pairs", "dedup"):
            docs = self.spark.read.parquet(os.path.join(self.in_dir, f"shard-{shard:03d}"))
            pairs = dedup.lsh_candidate_pairs(docs, "doc_id", "text")
        with tr.span("dedup.clusters", "dedup"):
            labels = dedup.duplicate_clusters(pairs)
        with tr.span("dedup.corpus", "dedup"):
            # one uncompressed file per shard, like the input: a file count
            # that varies with the join plan would dominate write_amp here
            dedup.dedup_corpus(docs, "doc_id", labels).coalesce(1).write.parquet(
                os.path.join(out_dir, f"shard-{shard:03d}"), compression="none"
            )
        return pairs, labels

    def _step(self, tr, shard: int, out_dir: str, rng: random.Random):
        """One pass over a shard, then cluster lookups on its labels."""
        t0 = time.perf_counter()
        pairs, labels = self._pass(tr, shard, out_dir)
        batch_ms = _ms_since(t0)
        first = shard * self.n_docs
        lookup_ms = []
        for _ in range(self.lookups_per_pass):
            ids = [first + rng.randrange(self.n_docs) for _ in range(8)]
            t0 = time.perf_counter()
            with tr.span("dedup.lookup", "dedup"):
                labels.where(F.col("id").isin(ids)).collect()
            lookup_ms.append(_ms_since(t0))
        return pairs, labels, batch_ms, lookup_ms

    def measure(self, tr, tag: str) -> Measured:
        out_dir = os.path.join(self.workdir, tag, "out")
        # warm-up: whole steps, lookups included, on throwaway shards
        t_warm = time.perf_counter()
        rng = random.Random(self.seed + 1)
        times = []
        for s in range(self.n_warm):
            times.append(self._step(tr, s, os.path.join(self.workdir, f"{tag}-warm"), rng)[2])
            self.spark.catalog.clearCache()
        warm_s = time.perf_counter() - t_warm

        rng = random.Random(self.seed)
        shards = range(self.n_warm, self.n_warm + self.n_timed)
        batch_ms, lookup_ms = [], []
        cpu = gate_s = 0.0
        failed = n_pairs = n_clusters = 0
        for s in shards:
            # one timed block per pass: the check between passes and the
            # cache release stay out of the timings
            cpu0 = tree_cpu_s()
            with tr.timed():
                pairs, labels, b_ms, l_ms = self._step(tr, s, out_dir, rng)
            cpu += tree_cpu_s() - cpu0
            batch_ms.append(b_ms)
            lookup_ms += l_ms

            # correctness, against connected components computed here: every
            # label is the minimum id of its component, so no candidate edge
            # crosses two labels
            t_gate = time.perf_counter()
            edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
            want = _min_labels(edges)
            failed += int({r["id"]: r["label"] for r in labels.collect()} != want)
            n_pairs += len(edges)
            n_clusters += len(set(want.values()))
            self.spark.catalog.clearCache()
            gate_s += time.perf_counter() - t_gate
        return Measured(
            work=self.n_docs * len(shards), work_wall_s=sum(batch_ms) / 1000.0,
            batch_ms=batch_ms, lookup_ms=lookup_ms,
            bytes_in=sum(
                dir_bytes(os.path.join(self.in_dir, f"shard-{s:03d}"))[1] for s in shards
            ),
            bytes_out=dir_bytes(out_dir)[1], cpu_s=cpu,
            attempted=len(shards) * (1 + self.lookups_per_pass), failed=failed,
            extra={"pairs": n_pairs, "clusters": n_clusters, "warm_ms": times,
                   "warm_s": warm_s, "gate_s": gate_s},
        )


WORKLOADS = {w.name: w for w in (TailMor, DedupClusters)}
