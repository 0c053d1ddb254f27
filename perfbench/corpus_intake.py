"""corpus_intake: back-to-back incremental dedup triggers.

One unit of work is one ``Engine.dedup_corpus_incremental`` trigger
(xxhash64, n=3, 64 hashes, 16 bands) over a batch of ``BATCH`` seeded
synthetic docs: ``STORED_COPIES`` exact copies of docs whose signatures
are stored, ``IN_BATCH_DUPS`` near-duplicates (one word swapped) of other
docs in the same batch, and fresh docs for the rest. Set-up seeds
``corpus_signatures`` with ``STORED`` signatures: the real signatures of
a pool of ``POOL`` docs (the copy sources) and random signatures for the
rest, which no batch doc can match. Stored state grows every trigger.

Correctness gate, every trigger: ``n_vs_corpus_dups`` equals the stored
copies planted and ``n_in_batch_dups`` the in-batch duplicates planted.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workload import Op, OpRunner

CORPUS = "intake"
BATCH = 4000
STORED_COPIES = 80    # 2% of a batch
IN_BATCH_DUPS = 40    # 1% of a batch
STORED = 200_000
POOL = 4000
VOCAB = 5000
DOC_WORDS = 50
N, NUM_HASHES, BANDS = 3, 64, 16
HASH_FN = "xxhash64"
SEED_AT = "2026-03-01 00:00:00"


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    words = rng.integers(0, VOCAB, (n, DOC_WORDS))
    return [" ".join(f"w{w}" for w in row) for row in words]


def pool_texts(seed: int, size: int) -> list[str]:
    return _texts(np.random.default_rng([seed, 0]), size)


def make_batch(seed: int, trigger: int, pool: list[str],
               stored_copies: int, in_batch_dups: int, size: int
               ) -> pa.Table:
    """Batch ``trigger`` of the intake stream, a pure function of its
    arguments. Doc ids never repeat across triggers or the pool."""
    rng = np.random.default_rng([seed, trigger + 1])
    n_fresh = size - stored_copies - in_batch_dups
    texts = _texts(rng, n_fresh)
    for j in rng.choice(n_fresh, in_batch_dups, replace=False):
        words = texts[j].split()
        words[int(rng.integers(0, DOC_WORDS))] = "dup"
        texts.append(" ".join(words))
    texts += [pool[j] for j in rng.choice(len(pool), stored_copies,
                                          replace=False)]
    # ids ascend with position, so each near-duplicate has a larger id
    # than its original and is the one dedup drops
    base = (trigger + 1) * 10_000_000
    return pa.table({"doc_id": np.arange(base, base + size, dtype=np.int64),
                     "text": texts})


class CorpusIntake:
    # the first timed triggers still get faster as the JIT settles: a fixed
    # count keeps the median on the same trigger whatever the box's speed
    min_units = 3

    def __init__(self, spark, runner: OpRunner, work: Path, seed: int,
                 stored: int = STORED, batch: int = BATCH,
                 stored_copies: int = STORED_COPIES,
                 in_batch_dups: int = IN_BATCH_DUPS):
        self.spark, self.runner, self.work = spark, runner, work
        self.seed, self.stored, self.batch = seed, stored, batch
        self.stored_copies, self.in_batch_dups = stored_copies, in_batch_dups
        self.pool = pool_texts(seed, min(POOL, stored))
        self.engine = None
        self._trigger = 0

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from sparvi_spark.engine import Engine
        from sparvi_spark.operators.dedup import (
            band_hashes_expr, minhash_signatures)

        self.spark.catalog.clearCache()
        wh = self.work / "warehouse"
        shutil.rmtree(wh, ignore_errors=True)
        self.engine = Engine(self.spark, str(wh))
        self.runner.warehouse = wh
        pool = self.spark.createDataFrame(
            [(f"pool-{i}", t) for i, t in enumerate(self.pool)],
            "doc_id string, text string")
        real = minhash_signatures(pool, "doc_id", "text", n=N,
                                  num_hashes=NUM_HASHES, hash_fn=HASH_FN)
        rand = self.spark.range(self.stored - len(self.pool)).select(
            F.concat(F.lit("rand-"), F.col("id").cast("string"))
            .alias("doc_id"),
            F.expr(f"transform(sequence(0, {NUM_HASHES - 1}), "
                   f"i -> xxhash64(id, i, {int(self.seed)}))").alias("sig"))
        sigs = real.unionByName(rand)
        self.engine.state.append("corpus_signatures", sigs.select(
            F.lit(CORPUS).alias("corpus_name"), "doc_id", "sig",
            F.lit(HASH_FN).alias("hash_family"),
            F.lit(N).cast("int").alias("shingle_n"),
            F.lit(NUM_HASHES).cast("int").alias("num_hashes"),
            F.expr(band_hashes_expr(HASH_FN, NUM_HASHES, BANDS))
            .alias("band_hashes"),
            F.lit(SEED_AT).cast("timestamp").alias("added_at")))

    def warm(self) -> None:
        """The first trigger pays class loading and JIT, and a new Engine
        validates the corpus' signature scheme with a state scan on its
        first trigger. Run that first trigger untimed (its gate still
        applies), so that every timed trigger is a steady-state one."""
        self._run_trigger(unit=-1)

    def _batch_path(self) -> str:
        path = self.work / "batches" / f"t{self._trigger}.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(make_batch(self.seed, self._trigger, self.pool,
                                  self.stored_copies, self.in_batch_dups,
                                  self.batch), str(path))
        return str(path)

    def _check(self, summary) -> str | None:
        got = (summary["n_in"], summary["n_vs_corpus_dups"],
               summary["n_in_batch_dups"])
        want = (self.batch, self.stored_copies, self.in_batch_dups)
        if got != want:
            return ("(n_in, n_vs_corpus_dups, n_in_batch_dups) = "
                    f"{got}, planted {want}")
        return None

    def _run_trigger(self, unit: int) -> None:
        """One trigger; unit -1 is a set-up trigger, gated but untimed."""
        path = self._batch_path()
        run_at = f"2026-03-02 00:{self._trigger // 60:02d}:" \
                 f"{self._trigger % 60:02d}"

        def trigger():
            docs = self.spark.read.parquet(path)
            return self.engine.dedup_corpus_incremental(
                docs, CORPUS, n=N, num_hashes=NUM_HASHES, bands=BANDS,
                hash_fn=HASH_FN, run_at=run_at)

        self.runner.run(Op("trigger", unit, items=self.batch), trigger,
                        self._check)
        self._trigger += 1

    def unit(self, i: int) -> None:
        self._run_trigger(i)
