"""``corpus_rounds`` workload: cross-run dedup rounds against at-rest tables.

One round is one call of the loop: the round's document batch goes
through ``minhash_ingest_round`` and ``fingerprint_ingest_round``, and
its vector batch through ``semantic_ingest_round``, each against its
own table and each with ``txn=None``. Every round appends to the tables
and then compacts them, so each round pays for one compaction.

The traced ``dashboard`` run ends with one such round (see
``harness.Phase``); run this workload by hand for more of them.
"""

from __future__ import annotations

import os

from chicago_crash_data_pipeline_dashboard_spark.operators import dedup as DD
from chicago_crash_data_pipeline_dashboard_spark.operators import similarity as SIM

import gen
from fsscan import tree_stats, written_bytes

SIG = dict(num_hashes=32, bands=8, shingle_n=3, seed=42, hash_mode="md5")
# table partitions and IVF clusters; each round touches every one. Few
# of them keep a round at ~25 s warm on 4 cores (8 and 8 took ~40 s).
PARTS = 2
N_CLUSTERS = 2
MINHASH_THRESHOLD = 0.5
SEMANTIC_THRESHOLD = 0.9
# compact when a partition holds more than 1 file, so after every append
COMPACT_TRIGGER = 1.0
DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<float>"

FAMILIES = {
    # span name: (table subdir, data subdir scanned for files/bytes)
    "operators.dedup.minhash_round": ("minhash", "minhash/banded"),
    "operators.dedup.fingerprint_round": ("fingerprint", "fingerprint/fingerprints"),
    "operators.similarity.semantic_round": ("ivf", "ivf"),
}


class Corpus:
    name = "corpus_rounds"
    nominal_pass_s = 25.0  # a warm round on 4 cores; --seconds buys rounds of this length

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.paths = {f: os.path.join(work, sub) for f, (sub, _) in FAMILIES.items()}
        self.data = {f: os.path.join(work, d) for f, (_, d) in FAMILIES.items()}
        self.failures: list[str] = []
        self.attempted = 0
        self.sources = None
        # per family: file count after each round, rounds that compacted
        # (removed a file the table held before), bytes written / appended
        self.files: dict[str, list[int]] = {f: [] for f in FAMILIES}
        self.written = {f: 0 for f in FAMILIES}
        self.appended = {f: 0 for f in FAMILIES}
        self.compactions = {f: 0 for f in FAMILIES}

    def warm_up(self) -> None:
        """Builds the tables, then runs round 0 untimed to pay each
        round's first-use costs."""
        self.build_tables()
        self.step(0)

    def prepare(self, n: int) -> None:
        """Nothing: a round's batches depend on the previous round."""

    def build_tables(self) -> None:
        """The three at-rest tables, from the initial corpus."""
        docs, vecs = gen.initial_corpus(self.seed)
        self.sources = (docs, vecs)
        with self.tr.span("corpus.build_tables"):
            ddf = self.spark.createDataFrame(docs, DOC_SCHEMA)
            DD.write_minhash_signatures(
                ddf, self.paths["operators.dedup.minhash_round"], "doc_id", "text",
                parts=PARTS, **SIG)
            DD.write_fingerprints(
                ddf, self.paths["operators.dedup.fingerprint_round"], "doc_id", "text",
                parts=PARTS)
            SIM.write_ivf_index(
                self.spark.createDataFrame(vecs, VEC_SCHEMA),
                self.paths["operators.similarity.semantic_round"],
                n_clusters=N_CLUSTERS, seed=42)

    def step(self, r: int) -> dict:
        spark, tr = self.spark, self.tr
        rnd = gen.corpus_round(self.seed, r, self.sources)
        self.sources = (rnd.fresh_docs, rnd.fresh_vecs)
        docs = spark.createDataFrame(rnd.docs, DOC_SCHEMA)
        vecs = spark.createDataFrame(rnd.vecs, VEC_SCHEMA)
        before = {f: tree_stats(d) for f, d in self.data.items()}
        self.attempted += 1
        reps = {}
        with tr.span("corpus.round", round=r, rows=len(rnd.docs) + len(rnd.vecs)) as sp:
            f = "operators.dedup.minhash_round"
            with tr.span(f):
                reps[f] = DD.minhash_ingest_round(
                    docs, self.paths[f], "doc_id", "text",
                    threshold=MINHASH_THRESHOLD, compact_trigger=COMPACT_TRIGGER, txn=None)
            f = "operators.dedup.fingerprint_round"
            with tr.span(f):
                reps[f] = DD.fingerprint_ingest_round(
                    docs, self.paths[f], "doc_id", "text",
                    compact_trigger=COMPACT_TRIGGER, txn=None)
            f = "operators.similarity.semantic_round"
            with tr.span(f):
                reps[f] = SIM.semantic_ingest_round(
                    vecs, self.paths[f], threshold=SEMANTIC_THRESHOLD,
                    n_probe=N_CLUSTERS, compact_trigger=COMPACT_TRIGGER, txn=None)
        self._check(r, rnd, reps)
        for f, d in self.data.items():
            after = tree_stats(d)
            self.files[f].append(after.files)
            self.compactions[f] += bool(before[f].sizes.keys() - after.sizes.keys())
            self.written[f] += written_bytes(before[f], after)
            self.appended[f] += max(after.bytes - before[f].bytes, 0)
        return {"items": len(rnd.docs) + len(rnd.vecs), "secs": sp.secs, "span": sp}

    def _check(self, r: int, rnd: gen.CorpusRound, reps: dict) -> None:
        expect = {
            "operators.dedup.minhash_round": (
                "doc_id", rnd.minhash_survivors, rnd.planted_docs_exact | rnd.planted_docs_near),
            "operators.dedup.fingerprint_round": (
                "doc_id", rnd.fingerprint_survivors, rnd.planted_docs_exact),
            "operators.similarity.semantic_round": (
                "vec_id", rnd.semantic_survivors, rnd.planted_vecs),
        }
        for f, (col, survivors, planted) in expect.items():
            got = {row[0] for row in reps[f]["survivors"].select(col).collect()}
            if got & planted:
                self.failures.append(
                    f"round {r} {f}: planted clones survived: {sorted(got & planted)[:5]}")
            if got != survivors or reps[f]["n_survivors"] != len(survivors):
                self.failures.append(
                    f"round {r} {f}: {len(got)} survivors (reported "
                    f"{reps[f]['n_survivors']}), expected {len(survivors)}")
