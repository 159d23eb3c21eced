"""The benchmark's workloads: seeded inputs, the public calls each pass
makes, and the checks their outputs must pass.

Every workload draws its inputs from ``--seed`` alone (numpy
generators), writes them as parquet through Arrow, and loads them back
through ``pandance_spark.sources``; the seed reaches the program only
through those files.  Sizes are fixed per workload and listed in
``SIZES``.  They are small enough that one run, with set-up, a cold
pass and several warm passes, stays well inside its time budget on a
4-core box.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import oracles

# The reference's performance.py seed for workload F (also the
# benchmark's default --seed).
PAPER_SEED = 12345

SIZES = {
    "paper_joins": {
        "F_rows_per_side": 100_000,
        "F_tol": 0.1,
        "I_rows_per_side": 7_500,
        "I_overlap": 3_750,
    },
    "dedup_pipelines": {
        "near_dup_base_docs": 200,
        "near_dup_copies": 4,
        "eval_docs": 500,
        "eval_docs_with_mutated": 1_000,
        "linkage_names_per_side": 1_000,
    },
}

# One line per workload, the same text as in BENCHMARK.json.
WHY = {
    "paper_joins": (
        "Paper workloads F (100k rows/side, N(-2,1) vs N(2,1), tol 0.1) and I "
        "(7,500/side, overlap 3,750) via fuzzy/ineq/theta joins; seed draws F "
        "and row order. Band kernels, no dedup layer"
    ),
    "dedup_pipelines": (
        "Dedup layer, no join kernels: fingerprint and substring pair paths on "
        "4 disjoint copies of 200 docs, then job-wave-bound minhash_eval, "
        "record_linkage, KN ppl_buckets; seed draws all inputs"
    ),
}

# Published single-thread times of the reference on F and I
# (pandance docs, getting_started.rst:133, :303, :305).  Printed
# beside the results as context, never used as bounds.
PAPER_TIMES_S = {"fuzzy_join": 1.88, "ineq_join": 3.24, "theta_join": 9.3}

# The reference corpus vocabulary: 30 words plus the near-dup marker.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_TOKEN = "dup"
COPY_STRIDE = 1_000_000
MUTATED_OFFSET = 100_000


@dataclass
class Call:
    """One public call of a pass.  ``run`` returns the frame the noop
    sink consumes; ``observe`` lists extra aggregates collected on the
    way through (the row count is always collected)."""

    key: str
    run: Callable
    observe: Callable = field(default=lambda df: [])


def _digest(*cols):
    """Order-independent digest of the rows: sum of a 28-bit slice of
    the row hash (no overflow below 3e10 rows)."""
    from pyspark.sql import functions as F

    return F.coalesce(
        F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFF))), F.lit(0)
    ).alias("digest")


def _write_parquet(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def _load(spark, path: str):
    """Parquet load through the program's reader, spread over the four
    cores, cached and counted before any timed pass."""
    from pandance_spark.sources import read_any

    df = read_any(spark, path).repartition(4).cache()
    df.count()
    return df


def _documents(rng, n_docs: int, dup_frac: float = 0.05) -> list:
    """Token-id lists shaped like the reference corpus: 20-100 words
    from a 30-word vocabulary, and 5% near-duplicates (an earlier
    original plus the marker token).  The 20-word floor keeps every
    near-dup pair's 3-shingle Jaccard >= 18/19.  The lengths cycle
    through 20..100 and the near-dup count is exact, so every seed
    gives the same amount of text; the seed draws the order, the
    words and which documents repeat which."""
    lengths = rng.permutation(np.resize(np.arange(20, 101), n_docs))
    docs = [rng.integers(0, len(VOCAB), n) for n in lengths]
    is_dup = np.zeros(n_docs, dtype=bool)
    is_dup[1 + rng.choice(n_docs - 1, round(dup_frac * n_docs), replace=False)] = True
    originals = []
    for i in range(n_docs):
        if is_dup[i]:
            src = originals[int(rng.integers(0, len(originals)))]
            docs[i] = np.append(docs[src], -1)
        else:
            originals.append(i)
    return docs


def _render(doc, copy: int) -> str:
    """A per-copy bijective token renaming: every token gets a copy
    suffix, so copies share no token and cross-copy Jaccard is 0."""
    words = (DUP_TOKEN if t < 0 else VOCAB[t] for t in doc)
    return " ".join(f"{w}c{copy}" for w in words)


class Workload:
    name = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.sizes = SIZES[self.name]
        self.why = WHY[self.name]
        self.frames: list = []

    def drop_inputs(self) -> None:
        for df in self.frames:
            df.unpersist(blocking=True)
        self.frames = []

    def _path(self, table: str) -> str:
        os.makedirs(self.work_dir, exist_ok=True)
        return os.path.join(self.work_dir, f"{table}.parquet")

    def _table(self, spark, table: str, columns: dict):
        path = self._path(table)
        _write_parquet(path, columns)
        df = _load(spark, path)
        self.frames.append(df)
        return df

    def make_inputs(self, spark) -> None:
        raise NotImplementedError

    def calls(self) -> list:
        raise NotImplementedError

    def expected(self) -> dict:
        """``{call key: {observed name: value}}`` from the oracles."""
        raise NotImplementedError

    def anchors(self, spark) -> dict:
        """``{name: (count thunk, want)}``: untimed extra checks."""
        return {}


class PaperJoins(Workload):
    name = "paper_joins"

    def make_inputs(self, spark) -> None:
        s = self.sizes
        rng = np.random.default_rng(self.seed)
        n = s["F_rows_per_side"]
        # the reference generator: N(-2, 1) then N(+2, 1) from one stream
        self.fa = rng.normal(-2.0, 1.0, n)
        self.fb = rng.normal(2.0, 1.0, n)
        idx = np.arange(n, dtype=np.int64)
        self.f_left = self._table(spark, "f_left", {"idx": idx, "val": self.fa})
        self.f_right = self._table(spark, "f_right", {"idx": idx, "val": self.fb})
        rows, overlap = s["I_rows_per_side"], s["I_overlap"]
        # I's values are fixed by the paper; the seed only orders the rows
        ia = rng.permutation(np.arange(rows, dtype=np.int64))
        ib = rng.permutation(np.arange(rows - overlap, 2 * rows - overlap, dtype=np.int64))
        self.i_left = self._table(spark, "i_left", {"val": ia})
        self.i_right = self._table(spark, "i_right", {"val": ib})

    def calls(self) -> list:
        from pandance_spark import fuzzy_join, ineq_join, theta_join

        tol = self.sizes["F_tol"]
        pair_digest = lambda df: [_digest("val_x", "val_y")]  # noqa: E731
        return [
            Call(
                "operators.fuzzy.fuzzy_join",
                lambda: fuzzy_join(self.f_left, self.f_right, on="val", tol=tol),
            ),
            Call(
                "operators.ineq.ineq_join",
                lambda: ineq_join(self.i_left, self.i_right, how="<", on="val"),
                pair_digest,
            ),
            Call(
                "operators.theta.theta_join",
                lambda: theta_join(
                    self.i_left, self.i_right, condition=lambda x, y: x < y, on="val"
                ),
                pair_digest,
            ),
        ]

    def expected(self) -> dict:
        s = self.sizes
        n_i = oracles.ineq_lt_count(s["I_rows_per_side"], s["I_rows_per_side"], s["I_overlap"])
        return {
            "operators.fuzzy.fuzzy_join": {
                "rows": oracles.fuzzy_count(self.fa, self.fb, s["F_tol"])
            },
            "operators.ineq.ineq_join": {"rows": n_i},
            "operators.theta.theta_join": {"rows": n_i},
        }

    def anchors(self, spark) -> dict:
        """The unscaled paper workloads through the same calls."""
        from pyspark.sql import functions as F

        from pandance_spark import fuzzy_join, ineq_join

        rng = np.random.default_rng(PAPER_SEED)
        n = 10_000
        idx = np.arange(n, dtype=np.int64)
        fa = self._table(spark, "anchor_f_left", {"idx": idx, "val": rng.normal(-2.0, 1.0, n)})
        fb = self._table(spark, "anchor_f_right", {"idx": idx, "val": rng.normal(2.0, 1.0, n)})
        ia = spark.range(0, 3000).select(F.col("id").alias("val"))
        ib = spark.range(1500, 4500).select(F.col("id").alias("val"))
        return {
            "paper_F_matches": (lambda: fuzzy_join(fa, fb, on="val", tol=0.1).count(), 106_776),
            "paper_I_rows": (lambda: ineq_join(ia, ib, how="<", on="val").count(), 7_874_250),
        }


class DedupPipelines(Workload):
    """Two halves.  Near-dup detection over ``near_dup_copies``
    disjoint copies of one corpus, through the hot-key-guarded
    group-to-pairs paths (shuffle volume).  Then the multi-phase calls
    (10-25 Spark jobs each, with eager checkpoint waves): the dedup
    evaluation harness on the corpus plus a mutated copy, record
    linkage on customer-style names and KN perplexity tiers."""

    name = "dedup_pipelines"

    def make_inputs(self, spark) -> None:
        s = self.sizes
        rng = np.random.default_rng(self.seed)
        k = s["near_dup_copies"]
        base = _documents(rng, s["near_dup_base_docs"])
        self.copy_texts = [[_render(d, c) for d in base] for c in range(k)]
        ids = np.array(
            [c * COPY_STRIDE + i for c in range(k) for i in range(len(base))],
            dtype=np.int64,
        )
        texts = [t for copy in self.copy_texts for t in copy]
        self.near_dup = self._table(spark, "near_dup", {"doc_id": ids, "text": texts})

        docs = [_render(d, 0) for d in _documents(rng, s["eval_docs"])]
        # the mutated copy drops every 9th word, so similarities
        # straddle the evaluation threshold
        mutated = [" ".join(w for i, w in enumerate(t.split(" ")) if i % 9 != 0) for t in docs]
        ids = np.arange(len(docs), dtype=np.int64)
        self.aug_texts = docs + mutated
        self.n_docs = len(docs)
        self.docs = self._table(spark, "documents", {"doc_id": ids, "text": docs})
        self.aug = self._table(
            spark,
            "documents_aug",
            {"doc_id": np.concatenate([ids, ids + MUTATED_OFFSET]), "text": self.aug_texts},
        )

        # customer-style names; the mutated register drops the 10th
        # char (key % 9 == 0), swaps '#' for '@' (== 3) or keeps it
        n = s["linkage_names_per_side"]
        keys = np.sort(rng.choice(3 * n, n, replace=False)).astype(np.int64)
        self.names = [f"Customer#{key:09d}" for key in keys]
        self.rnames = [
            nm[:9] + nm[10:] if key % 9 == 0 else nm.replace("#", "@") if key % 9 == 3 else nm
            for key, nm in zip(keys, self.names)
        ]
        self.left = self._table(spark, "names_left", {"c_custkey": keys, "c_name": self.names})
        self.right = self._table(spark, "names_right", {"rid": keys, "rname": self.rnames})

    def calls(self) -> list:
        from pyspark.sql import functions as F

        from pandance_spark.functions.lm import ppl_buckets
        from pandance_spark.operators.dedup import (
            dedup_substrings,
            fingerprint_overlap_join,
            minhash_eval,
            record_linkage,
        )

        every = lambda df: [_digest(*df.columns)]  # noqa: E731
        return [
            Call(
                "operators.dedup.fingerprint_overlap_join",
                lambda: fingerprint_overlap_join(
                    self.near_dup, "doc_id", "text", k=8, mod=16, min_shared=2, max_df=25
                ),
            ),
            Call(
                "operators.dedup.dedup_substrings",
                lambda: dedup_substrings(self.near_dup, "doc_id", "text", min_tokens=20),
            ),
            Call(
                "operators.dedup.minhash_eval",
                lambda: minhash_eval(self.aug, "doc_id", "text", threshold=0.6, portable=True),
                lambda df: every(df)
                + [F.sum("n_docs").alias("n_docs"), F.sum("n_true").alias("n_true")],
            ),
            Call(
                "operators.dedup.record_linkage",
                lambda: record_linkage(
                    self.left, self.right, "c_custkey", "c_name", "rid", "rname", max_dist=1
                ),
                lambda df: every(df) + [F.coalesce(F.sum("dist"), F.lit(0)).alias("dist_sum")],
            ),
            Call(
                "functions.lm.ppl_buckets.kn",
                lambda: ppl_buckets(self.docs, "doc_id", "text", scorer="kn"),
                every,
            ),
        ]

    def expected(self) -> dict:
        import pandas as pd

        k = self.sizes["near_dup_copies"]
        every_copy = [t for copy in self.copy_texts for t in copy]
        n_link, dist_sum = oracles.levenshtein_pairs(
            pd.DataFrame({"name": self.names}), pd.DataFrame({"name": self.rnames}), 1
        )
        return {
            # the fingerprint selection hashes the renamed text, so each
            # copy selects its own set: the reference covers every copy
            "operators.dedup.fingerprint_overlap_join": {
                "rows": oracles.fingerprint_pairs(every_copy, k=8, mod=16, min_shared=2, max_df=25)
            },
            # token-exact: k disjoint copies give k times one copy's spans
            "operators.dedup.dedup_substrings": {
                "rows": k * oracles.substring_spans(self.copy_texts[0], 20)
            },
            "operators.dedup.minhash_eval": {
                "rows": 1,
                "n_docs": 2 * self.n_docs,
                "n_true": oracles.jaccard_pairs(self.aug_texts, 0.6),
            },
            "operators.dedup.record_linkage": {"rows": n_link, "dist_sum": dist_sum},
            "functions.lm.ppl_buckets.kn": {"rows": self.n_docs},
        }


WORKLOADS = {w.name: w for w in (PaperJoins, DedupPipelines)}

# every call any workload makes, in a fixed order (the traced mode
# reports the per-layer metrics of all of them)
ALL_CALLS = (
    "operators.fuzzy.fuzzy_join",
    "operators.ineq.ineq_join",
    "operators.theta.theta_join",
    "operators.dedup.fingerprint_overlap_join",
    "operators.dedup.dedup_substrings",
    "operators.dedup.minhash_eval",
    "operators.dedup.record_linkage",
    "functions.lm.ppl_buckets.kn",
)
