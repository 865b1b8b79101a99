"""Deduplication family for training-data pipelines.

Six strategies, all distributed, all deterministic:

- exact: hash-groupBy on a normalized-content fingerprint;
- n-gram Jaccard: inverted shingle index → pair-count intersection —
  exact similarity, quadratic only within shared-shingle groups;
- MinHash + LSH banding: linear-time candidate generation at scale,
  signatures via k universal-hash permutations over murmur3 shingle
  hashes (pure column arithmetic, no UDF);
- SimHash: 32-bit sign-aggregated token-hash fingerprint, near-dups =
  same fingerprint bucket (or small Hamming distance);
- embedding cosine: sign-LSH buckets → in-bucket exact cosine;
- SemDeDup: k-means clusters the embedding space, capped in-cluster
  cosine marks semantic near-dups (keep min id).

Scale notes: every strategy shuffles once on its bucketing key
(fingerprint / shingle / band-hash / simhash / LSH signature); skewed
buckets (stop-shingles) are the classic hazard — ``max_bucket`` caps
drop pathological buckets the way production near-dup pipelines do.
"""

from __future__ import annotations

import random
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as VX
from ..sources import fsutil as FS

# Universal-hash modulus: the Mersenne prime 2^31-1. Token hashes are
# 32-bit; (a·(h mod p) + b) mod p with a,b < p keeps every product
# under 2^62 — no int64 overflow in either Spark or an oracle engine.
_P31 = (1 << 31) - 1


def _explode_pairs(buckets: DataFrame, docs_col: str = "docs") -> DataFrame:
    """Unordered in-bucket pairs (``x``, ``y`` struct columns) from an
    array-of-structs bucket column, as a TWO-LEVEL generate: posexplode
    the bucket, then explode each element against the array tail.

    Every per-row value stays O(bucket) — the previous single-level
    ``flatten(transform(...))`` materialized all n·(n−1)/2 pair structs
    as ONE array value per bucket row, which at a hot bucket near the
    cap (and wide payloads: embedding vectors, minhash signatures)
    brushes Spark's 2 GB single-value limit. Two generates produce the
    identical pair set with per-row memory bounded by one bucket slice.
    The bucket arrays arrive sorted, so pairing each element against
    its tail yields ``x < y`` in bucket order for free."""
    docs = F.col(docs_col)
    step = buckets.select(
        docs.alias("_docs"), F.posexplode(docs).alias("_i", "x")
    )
    return step.select(
        "x",
        F.explode(
            F.slice(F.col("_docs"), F.col("_i") + F.lit(2), F.size("_docs"))
        ).alias("y"),
    )


def joined_doc_ids(id_col: str):
    """Canonical ``doc_ids`` aggregate: members sorted on their NATIVE
    type, then comma-joined into ONE STRING. Every dedup group emitter
    (exact / simhash / cluster) uses this shape — string scalars
    survive any downstream tabular canonicalization (pandas cannot
    sort/hash list cells), and sorting before stringification keeps the
    serialization deterministic."""
    return F.array_join(
        F.transform(
            F.sort_array(F.collect_list(id_col)), lambda x: x.cast("string")
        ),
        ",",
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) documents; one shuffle on
    the md5 fingerprint."""
    fp = df.select(F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            joined_doc_ids(id_col).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one doc (min id) per identical-content group.

    ONE ``row_number()`` window over (fingerprint ORDER BY id) — a
    single pass, one shuffle on the fingerprint. The r6 shape
    (groupBy-min + left_semi self-join) referenced the input subtree
    TWICE, which forced callers composing stages (the curation
    pipeline) to checkpoint between them; the window form reads the
    input once, so it composes without materialization."""
    if "_rn" in df.columns:  # same reserved-name discipline as cap_per_key
        raise ValueError("dedup_exact reserves the column name '_rn'")
    w = Window.partitionBy(TX.fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted shingle index.

    |A∩B| from the pair-count of shared shingles, |A∪B| = |A|+|B|−|A∩B|.
    ``max_bucket`` is OPT-IN (default: no cap), the family-wide policy —
    a cap changes which pairs are reported, so callers state it
    explicitly. When set, shingles shared by more than ``max_bucket``
    docs are dropped (stop-shingle skew guard — at 100 TB one 'the end'
    shingle would otherwise create a quadratic bucket; the driver gates
    pass max_bucket=1000, mirrored in their oracles).

    Shingles are hashed to int64 BEFORE the shuffle — an 8-byte key
    instead of an n-word string. ``xxhash64`` is the fast JVM path;
    ``md5`` (60-bit) is engine-portable for the differential oracle.
    Hash collisions would merge shingles identically on both engines,
    so results stay comparable either way.

    Plan shape (2 shuffles, 1 pass over the text):

    1. one narrow map computes (doc, n_sh, shingle) — the per-doc
       distinct-shingle count rides along with every inverted-index row,
       so no separate sizes frame (which would re-run the expensive
       shingle+hash map) and no post-join to attach |A|/|B|;
    2. groupBy(shingle) collects the bucket; buckets larger than
       ``max_bucket`` are dropped HERE (same rows as a pre-join hot-list,
       since bucket size == shingle frequency) — no second groupBy, no
       anti-join;
    3. in-bucket combinations explode directly to (doc_a, n_a, doc_b,
       n_b) and one groupBy counts intersections. n_a/n_b are
       functionally dependent on doc_a/doc_b, so adding them to the
       grouping key changes nothing but saves both joins.
    """
    if hash_mode == "xxhash64":
        def _h(s):
            return F.xxhash64(s)
    elif hash_mode == "md5":
        _h = TX.hash60
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    shingled = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(
            F.transform(TX.word_shingles(F.col(text_col), n), _h)
        ).alias("shingles"),
    )
    inv = shingled.select(
        "doc",
        F.size("shingles").cast("long").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    buckets = (
        inv.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "n_sh"))).alias("docs"))
        .filter(_bucket_size_filter(max_bucket))
    )
    pairs = (
        _explode_pairs(buckets)
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("x.n_sh").alias("n_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("y.n_sh").alias("n_b"),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = pairs.withColumn(
        "jaccard",
        F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("doc_a", "doc_b", "inter", "n_a", "n_b", F.round("jaccard", 6).alias("jaccard"))


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_df: int = 1000,
    max_df_divisor: int = 5,
    hash_mode: str = "md5",
) -> DataFrame:
    """Near-dup pairs by df-weighted cosine over the shared vocabulary —
    the weighted complement of ``ngram_jaccard_pairs`` (rare terms count
    more than stop-terms).

    Weight: ``w(doc, term) = tf · (N / df)`` — a log-free tf-idf
    variant whose arithmetic (integer ratio, one multiply) is exactly
    reproducible across engines (``ln`` is not correctly-rounded in
    either, so the classic formula can't be differentially tested
    bit-for-bit). The vocabulary is restricted to terms appearing in
    2..``max_df`` documents: df=1 terms can't contribute to any pair,
    and ultra-common terms are the same quadratic skew hazard the
    Jaccard guard drops; norms are over the same restricted vocabulary
    so the measure is a true cosine in that subspace.

    The df ceiling is ``LEAST(max_df, GREATEST(2, N DIV max_df_divisor))``
    — relative as well as absolute. An absolute cap alone is a trap when
    N is small relative to it (cap ≥ N admits stop-terms whose buckets
    pair-explode into near-all-pairs: measured 30 s vs 2 s on a
    500-doc corpus with max_df=1000); at cluster scale the absolute
    term dominates and bounds every bucket's quadratic step. Integer
    DIV keeps the two engines' ceilings bit-identical.

    Plan shape: ONE tokenize pass → tf groupBy(doc, term-hash) →
    df COUNT window over the term partition → vocabulary filter —
    stop-term rows are dropped BEFORE any bucket array exists (a
    stop-term's bucket is never materialized: collecting it first and
    filtering after is an executor OOM at corpus scale) → per-doc norm
    as a SECOND window (SUM over the doc partition; decimal-routed, so
    bit-identical to the former groupBy-sum) carried INTO the bucket
    structs → groupBy(term) buckets of (doc, w, nrm) → in-bucket pair
    explosion → pair groupBy with decimal-routed dot products
    (order-independent, exact) → threshold filter.

    The norms ride the rows instead of being re-joined at the end
    because Spark plans are trees: the former ``dots.join(norms a)
    .join(norms b)`` shape re-computed the ENTIRE tokenize→tf→window
    subtree three times (once per join branch — 3 full document scans
    + md5-token passes, 42 Exchanges at sf0.1; exchange reuse does not
    fire across the differing branch tails). Carrying the norm costs
    one extra double per bucket-struct and one narrow tf-table
    exchange; it removes two full corpus passes and both joins
    (r15 plan diff: 42 Exchanges → 7, 12 scans → 4).
    """
    if hash_mode == "xxhash64":
        def _h(s):
            return F.xxhash64(s)
    elif hash_mode == "md5":
        _h = TX.hash60
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(TX.tokens(F.col(text_col))).alias("term_str"),
    )
    tf = toks.groupBy("doc", _h(F.col("term_str")).alias("term")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))

    eff_max_df = F.least(
        F.lit(max_df), F.greatest(F.lit(2), F.expr(f"n_docs DIV {int(max_df_divisor)}"))
    )
    # df via a COUNT window over the term partition: tf shuffles on
    # term exactly once (the window's hash partitioning is reused by
    # the bucket groupBy below), stop-term rows are dropped BEFORE any
    # bucket array exists, and — unlike a df-join — the tf subtree is
    # not computed twice (measured 2x on the full query).
    weighted = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .filter((F.col("df") >= 2) & (F.col("df") <= eff_max_df))
        .select(
            "term",
            "doc",
            (F.col("tf") * (F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    # Per-doc norm over the SAME restricted-vocabulary frame, as a
    # window instead of a groupBy: the decimal SUM aggregates the
    # identical value set in exact arithmetic, so the norm is
    # bit-identical to the former groupBy form — but it rides the row
    # into the buckets, so no join (and no re-computed subtree) ever
    # re-attaches it. Every doc surviving the vocab filter has a norm,
    # matching the former inner join's domain.
    weighted = weighted.withColumn(
        "nrm",
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(25,6)"))
            .over(Window.partitionBy("doc"))
            .cast("double")
        ),
    )
    # struct sort order is unchanged by the appended field: `doc` is
    # unique within a term bucket, so comparison never reaches `nrm`
    buckets = weighted.groupBy("term").agg(
        F.sort_array(F.collect_list(F.struct("doc", "w", "nrm"))).alias("docs")
    )

    dots = (
        _explode_pairs(buckets)
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            (F.col("x.w") * F.col("y.w")).alias("ww"),
            F.col("x.nrm").alias("nrm_a"),
            F.col("y.nrm").alias("nrm_b"),
        )
        # nrm_a/nrm_b are functions of doc_a/doc_b (one norm per doc),
        # so adding them to the keys groups the identical pair set
        .groupBy("doc_a", "doc_b", "nrm_a", "nrm_b")
        .agg(F.sum(F.col("ww").cast("decimal(25,6)")).cast("double").alias("dot"))
    )
    out = (
        dots.withColumn("cosine", F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")))
        .filter(F.col("cosine") >= threshold)
    )
    return out.select("doc_a", "doc_b", F.round("cosine", 6).alias("cosine"))


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P31), rng.randrange(0, _P31)) for _ in range(num_hashes)]


def _token_hash(col, hash_mode: str):
    """32-bit token/shingle hash.

    ``murmur3`` — F.hash, JVM-side, fastest (the 100 TB path);
    ``md5`` — first 8 hex chars of md5 as an integer: engine-portable,
    so a SQL oracle (DuckDB ``('0x'||substr(md5(s),1,8))::BIGINT``)
    reproduces it bit-for-bit for differential testing.
    """
    if hash_mode == "murmur3":
        return F.hash(col).cast("long").bitwiseAND(F.lit((1 << 32) - 1))
    if hash_mode == "md5":
        return TX.hash32(col)
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "murmur3",
) -> DataFrame:
    """k-permutation MinHash signature as an array<long> column.

    Shingles → 32-bit hash → k universal hashes
    (a·(h mod p) + b) mod p, min per permutation. All column
    arithmetic — the signature computation is a narrow map, no shuffle.
    """
    params = _hash_params(num_hashes, seed)
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.transform(
            TX.word_shingles(F.col(text_col), shingle_n),
            lambda s: _token_hash(s, hash_mode),
        ).alias("hvals"),
    )

    # closure factory, not default-arg lambdas — pyspark HOFs dispatch
    # on lambda arity, so (lambda h, a=a, b=b: ...) would be called as
    # a 3-arg lambda and fail
    def _perm(a: int, b: int):
        return lambda h: ((h % _P31) * a + b) % F.lit(_P31)

    sig = F.array(
        *[F.array_min(F.transform(F.col("hvals"), _perm(a, b))) for a, b in params]
    )
    return sh.select("doc", sig.alias("signature"))


def _band_structs(bands: int, rows_per_band: int):
    """(band, bucket-key) structs; the bucket key is the joined band-
    slice values (portable across engines); equality of keys ≡ equality
    of the slice tuple."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col("signature")[j].cast("string")
                        for j in range(i * rows_per_band, (i + 1) * rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )


def _bucket_size_filter(max_bucket: int | None):
    """Shared bucket predicate: pairs need ≥ 2 docs; ``max_bucket``
    (when set) drops hot buckets at the collect."""
    keep = F.size("docs") >= 2
    if max_bucket is not None:
        keep = keep & (F.size("docs") <= max_bucket)
    return keep


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature; docs sharing any band-bucket are candidates.

    One shuffle on (band, bucket-key): buckets are collected per key and
    pairs explode in-bucket — the same shape as ``ngram_jaccard_pairs``,
    replacing the former band-bucket self-join (two shuffles) with one.

    ``max_bucket`` is OPT-IN (default: no cap — every candidate pair is
    emitted). Passing it drops buckets larger than the cap at the
    collect — the hot-bucket skew guard a 100 TB run wants (one
    degenerate band slice shared by boilerplate/empty docs would
    otherwise make its bucket quadratic) — at the documented cost that
    >max_bucket identical docs produce no pairs from that bucket
    (literal clones still surface via ``dedup_exact``). The cap is a
    behavior choice, so callers state it explicitly."""
    banded = sigs.select(
        "doc", F.explode(_band_structs(bands, rows_per_band)).alias("bb")
    ).select("doc", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(_bucket_size_filter(max_bucket))
    )
    return (
        _explode_pairs(buckets)
        .select(F.col("x").alias("doc_a"), F.col("y").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "murmur3",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by signature-estimated
    Jaccard (fraction of equal signature positions) ≥ threshold.

    Single-pass shape: the signature RIDES ALONG with each banded row
    into the (band, bucket) collect, so the in-bucket pair explode
    already has both signatures in hand — no re-join of the signature
    frame (which would re-run the md5 + permutation map twice more).
    The carried payload is num_hashes longs per banded row — small next
    to the text it replaces.

    ``max_bucket`` is OPT-IN (default: no cap). When set, buckets
    larger than the cap are dropped at the collect — the hot-bucket
    skew guard a 100 TB run wants (a degenerate band slice shared by
    boilerplate/empty docs turns that bucket quadratic) — at the
    documented cost that >max_bucket identical docs produce zero pairs
    from this path (literal clones still surface via ``dedup_exact``).
    Dropping candidates is a behavior choice, so callers opt in
    explicitly (the driver gates pass max_bucket=1000)."""
    banded = _banded_signatures(df, id_col, text_col, {
        "num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n,
        "seed": seed, "hash_mode": hash_mode,
    })
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "signature"))).alias("docs"))
        .filter(_bucket_size_filter(max_bucket))
    )
    est = (
        _explode_pairs(buckets)
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("x.signature").alias("sig_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("y.signature").alias("sig_b"),
        )
        .withColumn("est_jaccard", _est_jaccard("sig_a", "sig_b", num_hashes))
    )
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .distinct()
    )


def _est_jaccard(sig_a: str, sig_b: str, num_hashes: int):
    """Signature-estimated Jaccard of two MinHash signature columns:
    the fraction of equal positions."""
    return F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ).cast("double") / F.lit(num_hashes)


# --------------------------------------------------------------------------
# Cross-run signature tables at rest — MinHash bands (``banded``), exact
# fingerprints (``fingerprints``), SimHash segments (``segments``): one
# table body, one descriptor per family.
# --------------------------------------------------------------------------


class _SigTable(NamedTuple):
    """One family of the cross-run dedup tables. All three share the
    layout: the rows ``rows(df, id_col, text_col, params)`` builds, keyed
    by the bucket-key columns ``keys``, stored as parquet
    ``partitionBy(part = pmod(xxhash64(keys), parts))`` under
    ``{path}/{sub}``, beside a ``{path}/_params`` sidecar that pins the
    params they were computed under. ``bucket_size`` says whether each
    row carries its bucket's write-time row count (the probe's
    hot-bucket cap)."""

    sub: str
    keys: tuple[str, ...]
    bucket_size: bool
    rows: Callable[..., DataFrame]


def _read_params(spark, path: str) -> dict:
    """The params pinned in the ``{path}/_params`` sidecar of a
    signature or components table — a driver-side read, no Spark job.
    Tables written before ``files_per_part`` was pinned carry none: 1."""
    p = FS.read_sidecar(f"{path}/_params", spark)
    return {**p, "files_per_part": p.get("files_per_part") or 1}


def _with_part(rows: DataFrame, t: _SigTable, parts: int) -> DataFrame:
    """``rows`` plus the hive partition key ``part`` of their bucket."""
    return rows.withColumn(
        "part", F.pmod(F.xxhash64(*t.keys), F.lit(parts)).cast("int")
    )


def _part_aligned(rows: DataFrame, files_per_part: int, *sort_cols: str) -> DataFrame:
    """Repartition on ``part`` (+ a doc-hash salt when ``files_per_part``
    > 1) and sort within partitions — the file-count discipline of all
    three signature tables: each write adds at most ``files_per_part``
    files per touched partition (without it, tasks × parts files)."""
    if files_per_part > 1:
        salt = F.pmod(F.xxhash64("doc"), F.lit(files_per_part))
        rows = rows.repartition(F.col("part"), salt)
    else:
        rows = rows.repartition(F.col("part"))
    return rows.sortWithinPartitions("part", *sort_cols)


def _write_rows(
    t: _SigTable, df: DataFrame, id_col: str, text_col: str, out: str,
    p: dict, files_per_part: int,
) -> None:
    """The one row writer of the three families: ``df``'s rows under
    the table's params ``p`` with their ``part``, the per-write-segment
    ``bucket_size`` window when the family has one, then the
    part-aligned partitioned write of ``{out}/{t.sub}``. The initial
    write, the append and the ingest round's stage all call it."""
    rows = _with_part(t.rows(df, id_col, text_col, p), t, p["parts"])
    if t.bucket_size:
        rows = rows.withColumn(
            "bucket_size", F.count(F.lit(1)).over(Window.partitionBy(*t.keys))
        )
    _part_aligned(rows, files_per_part, *t.keys).write.partitionBy("part").mode(
        "overwrite"
    ).parquet(f"{out}/{t.sub}")


def _write_table(
    t: _SigTable, df: DataFrame, path: str, id_col: str, text_col: str, p: dict
) -> None:
    """Write the whole table: its rows, then the ``_params`` sidecar."""
    _write_rows(t, df, id_col, text_col, path, p, p["files_per_part"])
    FS.write_sidecar(f"{path}/_params", p, df.sparkSession)


def _append_rows(
    t: _SigTable, batch: DataFrame, path: str, id_col: str, text_col: str,
    files_per_part: int | None, txn: str | None,
) -> None:
    """The one appender body: the batch's rows under the table's own
    params (``files_per_part`` too, unless overridden), written through
    the staged-move ledger (sources/txn.py) keyed on ``txn``."""
    from ..sources.txn import staged_append

    p = _read_params(batch.sparkSession, path)
    fpp = p["files_per_part"] if files_per_part is None else files_per_part
    staged_append(
        path, txn, lambda stage: _write_rows(t, batch, id_col, text_col, stage, p, fpp)
    )


def _probe_corpus(
    t: _SigTable, batch: DataFrame, path: str, id_col: str, text_col: str,
    max_bucket: int | None = None,
) -> tuple[dict, DataFrame, DataFrame]:
    """The pruned-corpus prefix of the three probes: (params, the
    batch's rows with their ``part``, the corpus scan). The scan reads
    ONLY the hive partitions the batch's buckets hash into
    (``PartitionFilters`` on ``part`` — at most ``parts`` literal
    values, collected from a ≤``parts``-row distinct); ``max_bucket``
    (opt-in) drops corpus buckets whose write-time size exceeds the cap
    — a scan-side filter on the stored ``bucket_size`` column, no
    query-time aggregation of the corpus."""
    from ..sources.compact import ensure_recovered

    spark = batch.sparkSession
    ensure_recovered(f"{path}/{t.sub}")
    p = _read_params(spark, path)
    b = _with_part(t.rows(batch, id_col, text_col, p), t, p["parts"])
    # bounded collect: at most `parts` distinct values by construction
    mods = sorted(r.part for r in b.select("part").distinct().collect())
    corpus = spark.read.parquet(f"{path}/{t.sub}").filter(F.col("part").isin(mods))
    if max_bucket is not None:
        corpus = corpus.filter(F.col("bucket_size") <= max_bucket)
    return p, b, corpus


def _candidates(
    t: _SigTable, b: DataFrame, corpus: DataFrame, payload: str,
    broadcast_batch: bool,
) -> DataFrame:
    """(corpus_doc, batch_doc, corpus_{payload}, batch_{payload}) for
    every corpus and batch row sharing a bucket key. The join is
    broadcast on the batch side by default (a batch is small next to
    the corpus); ``broadcast_batch=False`` degrades it gracefully to a
    shuffle join on the keys, for backfill-sized batches."""
    bside = b.select(
        *t.keys, F.col("doc").alias("batch_doc"),
        F.col(payload).alias(f"batch_{payload}"),
    )
    if broadcast_batch:
        bside = F.broadcast(bside)
    return corpus.select(
        *t.keys, F.col("doc").alias("corpus_doc"),
        F.col(payload).alias(f"corpus_{payload}"),
    ).join(bside, list(t.keys))


def _banded_signatures(df: DataFrame, id_col: str, text_col: str, p: dict) -> DataFrame:
    """(doc, signature, band, bucket) — each doc's MinHash signature
    under the params ``p``, once per band: the table's rows and the
    in-frame pair generator's."""
    num_hashes, bands = p["num_hashes"], p["bands"]
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature positions would be silently dropped"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, p["shingle_n"], p["seed"], p["hash_mode"]
    )
    return sigs.select(
        "doc", "signature", F.explode(_band_structs(bands, rows_per_band)).alias("bb")
    ).select("doc", "signature", "bb.band", "bb.bucket")


_BANDED = _SigTable("banded", ("band", "bucket"), True, _banded_signatures)


def write_minhash_signatures(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "murmur3",
    parts: int = 64,
    files_per_part: int = 1,
) -> None:
    """Persist the corpus's banded MinHash signatures AT REST — the
    cross-run half of the dedup family (VERDICT r10 item 2/3): a
    training-data pipeline dedups each NEW batch against everything
    already ingested, and re-minhashing a 100 TB corpus per batch is
    the thing this table exists to avoid.

    Layout (``{path}/banded``, parquet ``partitionBy("part")`` where
    ``part = pmod(xxhash64(band, bucket), parts)`` — the layout of all
    three signature tables, :class:`_SigTable`):

    - an incoming batch computes its own bucket parts and reads ONLY
      those hive partitions (``PartitionFilters``, plan-asserted) —
      the batch probe touches ~|batch buckets|/parts of the table's
      files, not all of them;
    - each row carries ``bucket_size`` (the bucket's row count at
      write time), so the hot-bucket cap is a scan-side filter at
      probe time — no query-time groupBy over the corpus;
    - ``{path}/_params`` pins (num_hashes, bands, shingle_n, seed,
      hash_mode, parts, files_per_part) — probes and appends read
      THEM, so batch and corpus signatures can never be computed under
      different parameters (and the ingest round's compaction trigger
      uses the table's real file bound, not a guessed one).

    The write repartitions on ``part`` (+ a doc-hash salt when
    ``files_per_part`` > 1) before ``partitionBy`` — same file-count
    discipline as ``write_ivf_index`` (without it, tasks × parts
    files). One shuffle for the bucket_size window + alignment; the
    table is written once and probed per batch."""
    _write_table(_BANDED, df, path, id_col, text_col, {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed": seed,
        "hash_mode": hash_mode,
        "parts": parts,
        "files_per_part": files_per_part,
    })


def write_fingerprints(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    parts: int = 64,
    files_per_part: int = 1,
) -> None:
    """Persist the corpus's EXACT-dedup fingerprints AT REST — the
    exact-match sibling of ``write_minhash_signatures``, in the same
    layout: one (doc, fingerprint) row per document
    (``TX.fingerprint`` — md5 of normalized text, the same fingerprint
    ``exact_duplicates`` groups on), parquet ``partitionBy(part =
    pmod(xxhash64(fingerprint), parts))`` so an incoming batch prunes
    its scan to only the partitions its own fingerprints hash into. The
    table holds a hash per doc, never text — at 100 TB it is ~1/1000th
    of the corpus and the thing every ingest batch anti-joins before
    appending. ``{path}/_params`` pins (parts, files_per_part)."""
    _write_table(_FINGERPRINTS, df, path, id_col, text_col, {
        "parts": parts, "files_per_part": files_per_part,
    })


def _fingerprint_rows(batch: DataFrame, id_col: str, text_col: str, p: dict) -> DataFrame:
    """(doc, fingerprint) — the exact fingerprint table's rows."""
    return batch.select(
        F.col(id_col).alias("doc"),
        TX.fingerprint(F.col(text_col)).alias("fingerprint"),
    )


_FINGERPRINTS = _SigTable("fingerprints", ("fingerprint",), False, _fingerprint_rows)


def append_fingerprints(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    files_per_part: int | None = None,
    txn: str | None = None,
) -> None:
    """Append a (deduped) batch's fingerprints — the ingest step after
    ``dedup_exact_against``. ``parts`` (and, unless overridden,
    ``files_per_part``) come from the table's ``_params``, never the
    caller.

    ``txn``: an idempotency id for at-least-once callers (streaming
    drains), keying the staged-move ledger (sources/txn.py) every
    append runs. For the full probe-before-append replay safety use
    :func:`fingerprint_ingest_round` with ``txn``."""
    _append_rows(_FINGERPRINTS, batch, path, id_col, text_col, files_per_part, txn)


def dedup_exact_against(
    batch: DataFrame, path: str, id_col: str, text_col: str
) -> DataFrame:
    """Rows of ``batch`` whose exact content fingerprint is NOT already
    in the corpus table written by ``write_fingerprints`` — cross-run
    exact dedup, the primitive every 100 TB ingest runs before
    appending anything. Every batch column passes through.

    Join shape (deliberate, scale-first): the corpus side is huge and
    must NOT shuffle, and a plain ``batch LEFT ANTI corpus`` would
    shuffle it (the anti side of a join cannot broadcast). Instead:

    1. the corpus scan prunes to the batch's fingerprint partitions
       (:func:`_probe_corpus`), then LEFT SEMI joins the BROADCAST
       batch fingerprints — map-side, zero corpus shuffle, output
       ≤ |batch| rows;
    2. the batch anti-joins that tiny hit set (broadcast again).

    Within-batch duplicates are NOT collapsed here (run
    ``dedup_exact`` first — same contract as the reference pipeline:
    clean, then gate)."""
    if "_fp" in batch.columns:
        raise ValueError("dedup_exact_against reserves the column name '_fp'")
    _, b, corpus = _probe_corpus(_FINGERPRINTS, batch, path, id_col, text_col)
    hits = (
        corpus.join(
            F.broadcast(b.select("fingerprint").distinct()), "fingerprint", "left_semi"
        )
        .select(F.col("fingerprint").alias("_fp"))
        .distinct()
    )
    return (
        batch.withColumn("_fp", TX.fingerprint(F.col(text_col)))
        .join(F.broadcast(hits), "_fp", "left_anti")
        .drop("_fp")
    )


def append_minhash_signatures(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    files_per_part: int | None = None,
) -> None:
    """Append a NEW batch's banded signatures to an existing table —
    the ingest step after ``near_duplicates_against`` has filtered the
    batch. Parameters come from the table's ``_params`` (never from
    the caller — including ``files_per_part`` unless explicitly
    overridden), so appended signatures are always computed under the
    corpus's own hashing and file discipline. ``bucket_size`` is
    computed WITHIN this batch (per-write-segment, like parquet
    row-group stats): the probe-side hot-bucket cap therefore bounds
    each segment's contribution independently — a bucket that only
    becomes hot ACROSS segments is not dropped (the conservative
    direction: extra candidates cost time, never recall). The append
    runs the staged-move ledger (sources/txn.py) under an anonymous id;
    streaming callers use :func:`minhash_ingest_round` with ``txn``."""
    _append_rows(_BANDED, batch, path, id_col, text_col, files_per_part, None)


def near_duplicates_against(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_bucket: int | None = None,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Near-duplicate pairs between an incoming BATCH and the corpus
    signatures persisted by ``write_minhash_signatures`` — the
    cross-run generalization of ``minhash_near_duplicates`` (and of
    the one-off ``doc_decontaminate`` shape): dedup new data against
    everything already ingested WITHOUT touching the ingested text.

    Returns (corpus_doc, batch_doc, est_jaccard) for signature-
    estimated Jaccard ≥ ``threshold``. Probe the batch BEFORE
    appending it (``append_minhash_signatures``), or each batch doc
    pairs with its own just-appended signature.

    Scale shape: the corpus scan reads ONLY the hive partitions the
    batch's bucket parts name, capped at ``max_bucket`` (opt-in, same
    policy as the rest of the family) on the stored ``bucket_size``
    (:func:`_probe_corpus`), and joins the batch on (band, bucket),
    broadcast unless ``broadcast_batch=False`` (:func:`_candidates`)."""
    p, b, corpus = _probe_corpus(_BANDED, batch, path, id_col, text_col, max_bucket)
    est = _candidates(_BANDED, b, corpus, "signature", broadcast_batch).withColumn(
        "est_jaccard",
        _est_jaccard("corpus_signature", "batch_signature", p["num_hashes"]),
    )
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .select("corpus_doc", "batch_doc", F.round("est_jaccard", 6).alias("est_jaccard"))
        .distinct()
    )


def _token_hash_wide(col, hash_mode: str, bits: int):
    """Token hash with at least ``bits`` bits of real entropy, masked
    to ``bits``. The 32-bit modes (classic murmur3, oracle-portable
    md5) serve bits <= 32 exactly as before; wider fingerprints hash
    with xxhash64 (murmur3 mode, up to 64) or the 60-bit md5 slice
    (md5 mode, up to 60 — 15 hex chars is the widest slice that fits
    a signed BIGINT in both engines). Found by the r12 1M probe: a
    32-bit token hash under a 64-bit SimHash leaves fingerprint bits
    32-63 constant, which doesn't just pad the fingerprint — the
    Manku segment buckets over those bits each hold the WHOLE corpus,
    so the candidate join goes quadratic."""
    if bits <= 32:
        return _token_hash(col, hash_mode).bitwiseAND(F.lit((1 << bits) - 1))
    if hash_mode == "murmur3":
        h = F.xxhash64(col)
        return h if bits >= 64 else h.bitwiseAND(F.lit((1 << bits) - 1))
    if hash_mode == "md5":
        if bits > 60:
            raise ValueError(
                "md5 (oracle-portable) mode supports bits <= 60 — 15 md5 hex "
                "chars = 60 bits; use murmur3 (xxhash64) for 64-bit fingerprints"
            )
        return TX.hash60(col).bitwiseAND(F.lit((1 << bits) - 1))
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, hash_mode: str = "murmur3"
) -> DataFrame:
    """SimHash fingerprint: per token-hash bit, +1 if set else −1,
    summed over tokens; fingerprint bit = sign. Implemented as ``bits``
    conditional sums over the exploded token stream.

    Scale note: this LOOKS like it shuffles |docs|·|tokens| rows, but
    hash aggregation is partial — each map task combines its tokens
    into 32 running sums per doc BEFORE the exchange, so the shuffled
    volume is docs × 32 longs. A per-row higher-order-function variant
    (32 ``size(filter(hash_array))`` expressions, no shuffle) was
    measured 3× SLOWER: lambda-bound expressions are excluded from
    codegen subexpression elimination, so the token hash array is
    recomputed once per bit."""
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(TX.tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", _token_hash_wide(F.col("tok"), hash_mode, bits))
    bit_sums = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        # bit 63 of a signed long is the sign bit: setting it means
        # adding Long.MIN_VALUE (two's complement), not 2^63 (which
        # overflows the literal) — XOR/popcount treat the result as
        # the same 64-bit pattern in both engines
        one = F.lit(-(1 << 63)) if i == 63 else F.lit(1 << i)
        term = F.when(F.col(f"b{i}") > 0, one).otherwise(F.lit(0)).cast("long")
        fp = term if fp is None else fp + term
    return bit_sums.select("doc", fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, hash_mode: str = "murmur3"
) -> DataFrame:
    """Docs sharing an identical SimHash fingerprint (Hamming distance
    0 — the scalable bucket form; ``simhash_hamming_pairs`` is the
    small-distance variant that re-buckets on fingerprint segments)."""
    fp = simhash(df, id_col, text_col, bits, hash_mode)
    return (
        fp.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), joined_doc_ids("doc").alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def _simhash_segments(max_distance: int, bits: int):
    """The Manku pigeonhole segmentation as an array-of-structs column
    expression over a ``simhash`` column: ``max_distance + 1``
    contiguous bit segments (two fingerprints within distance d differ
    in at most d bits, touching at most d segments, so at least one
    segment is bit-identical). Shared by the in-frame pair generator
    and the at-rest index — both sides of a cross-run probe MUST cut
    segments identically."""
    n_seg = max_distance + 1
    if n_seg > bits:
        raise ValueError(
            f"max_distance {max_distance} needs {n_seg} segments > {bits} bits"
        )
    base, rem = divmod(bits, n_seg)
    widths = [base + (1 if i < rem else 0) for i in range(n_seg)]
    offsets = [sum(widths[:i]) for i in range(n_seg)]
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("val"),
            )
            for i in range(n_seg)
        ]
    )


def _simhash_segment_rows(
    batch: DataFrame, id_col: str, text_col: str, p: dict
) -> DataFrame:
    """(doc, simhash, seg, val) — each doc's SimHash fingerprint under
    the params ``p`` (bits, max_distance, hash_mode), once per Manku
    segment: the index's rows and the in-frame pair generator's."""
    segs = _simhash_segments(p["max_distance"], p["bits"])
    fp = simhash(batch, id_col, text_col, p["bits"], p["hash_mode"])
    return fp.select("doc", "simhash", F.explode(segs).alias("sv")).select(
        "doc", "simhash", "sv.seg", "sv.val"
    )


_SEGMENTS = _SigTable("segments", ("seg", "val"), True, _simhash_segment_rows)
_SIG_TABLES = (_BANDED, _FINGERPRINTS, _SEGMENTS)


def write_simhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    bits: int = 32,
    hash_mode: str = "murmur3",
    parts: int = 64,
    files_per_part: int = 1,
) -> None:
    """Persist the corpus's SimHash fingerprints AT REST, pre-exploded
    into Manku pigeonhole segments — the Hamming-tolerant member of
    the cross-run dedup family (exact fingerprints / MinHash
    signatures / SimHash segments all share the layout,
    :class:`_SigTable`): rows (doc, simhash, seg, val, bucket_size)
    parquet ``partitionBy(part = pmod(xxhash64(seg, val), parts))``, so
    an incoming batch prunes its scan to only the partitions its own
    segment values hash into, and the hot-bucket cap is a scan-side
    filter on the stored write-time ``bucket_size``.
    ``{path}/_params`` pins (bits, max_distance, hash_mode, parts,
    files_per_part)."""
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    _write_table(_SEGMENTS, df, path, id_col, text_col, {
        "bits": bits,
        "max_distance": max_distance,
        "hash_mode": hash_mode,
        "parts": parts,
        "files_per_part": files_per_part,
    })


def simhash_near_duplicates_against(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    max_distance: int | None = None,
    max_bucket: int | None = None,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Hamming-tolerant near-dup pairs between an incoming BATCH and
    the corpus index written by ``write_simhash_index`` — cross-run
    SimHash dedup, same probe shape as ``near_duplicates_against``:
    the batch fingerprints and segments itself under the INDEX's
    params, prunes the corpus scan to its segment partitions
    (bounded ≤``parts``-row collect), broadcast-joins on (seg, val),
    and verifies candidates by exact popcount of the XOR.

    ``max_distance`` may be LOWERED below the index's stored value
    (the pigeonhole guarantee holds for any d' ≤ d); raising it above
    would miss pairs, so that is rejected. Returns
    (corpus_doc, batch_doc, hamming); probe BEFORE appending
    (``append_simhash_index``)."""
    p, b, corpus = _probe_corpus(_SEGMENTS, batch, path, id_col, text_col, max_bucket)
    if max_distance is None:
        max_distance = p["max_distance"]
    if max_distance > p["max_distance"]:
        raise ValueError(
            f"max_distance {max_distance} exceeds the index's segmentation "
            f"({p['max_distance']}) — pairs beyond it would be silently "
            "missed; rebuild the index with the larger distance instead"
        )
    cand = _candidates(_SEGMENTS, b, corpus, "simhash", broadcast_batch)
    return (
        cand.select("corpus_doc", "batch_doc", "corpus_simhash", "batch_simhash")
        .distinct()  # a close pair can share several segments
        .withColumn(
            "hamming",
            F.bit_count(F.col("corpus_simhash").bitwiseXOR(F.col("batch_simhash"))),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("corpus_doc", "batch_doc", F.col("hamming").cast("int").alias("hamming"))
    )


def append_simhash_index(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    files_per_part: int | None = None,
    txn: str | None = None,
) -> None:
    """Append a (deduped) batch's segments under the INDEX's params —
    same per-segment bucket_size posture as
    ``append_minhash_signatures`` (sizes are per write segment; the
    cap bounds each segment's contribution independently).
    ``files_per_part`` defaults to the index's own pinned value.

    ``txn``: an idempotency id for at-least-once callers (streaming
    drains), keying the staged-move ledger (sources/txn.py) every
    append runs. For the full probe-before-append replay safety use
    :func:`simhash_ingest_round` with ``txn``."""
    _append_rows(_SEGMENTS, batch, path, id_col, text_col, files_per_part, txn)


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    bits: int = 32,
    hash_mode: str = "murmur3",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS within Hamming distance ``max_distance``
    — the production tolerance form (Manku, Jain & Das Sarma, WWW 2007
    use 64-bit fingerprints at distance 3; this is the same pigeonhole
    construction at ``bits`` bits).

    Pigeonhole probe: the fingerprint splits into ``max_distance + 1``
    contiguous segments. Two fingerprints within distance d differ in
    at most d bits, which can touch at most d segments — so at least
    ONE of the d+1 segments is bit-identical. Bucketing every doc once
    per (segment index, segment value) therefore finds EVERY qualifying
    pair; candidates are verified by exact popcount of the XOR
    (``bit_count``, engine-portable for the differential oracle).

    One shuffle on the (segment, value) key — d+1 index rows per doc,
    the same linear-in-corpus candidate generation as MinHash banding.
    ``max_bucket`` is the family's opt-in hot-bucket cap (a segment
    value shared by a degenerate doc population — e.g. empty docs all
    fingerprinting to 0 — would otherwise go quadratic at 100 TB).
    """
    if max_distance < 1:
        raise ValueError(
            f"max_distance must be >= 1, got {max_distance} "
            "(distance 0 is simhash_near_duplicates' bucket form)"
        )
    exploded = _simhash_segment_rows(
        df, id_col, text_col,
        {"max_distance": max_distance, "bits": bits, "hash_mode": hash_mode},
    )
    buckets = (
        exploded.groupBy("seg", "val")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "simhash"))).alias("docs"))
        .filter(_bucket_size_filter(max_bucket))
    )
    return (
        _explode_pairs(buckets)
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("x.simhash").alias("fp_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("y.simhash").alias("fp_b"),
        )
        .distinct()  # a close pair can share several segments
        .withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH bucket (2^n_planes buckets)
    → exact in-bucket pairwise cosine ≥ threshold. Near-identical
    vectors land in the same bucket with high probability; the bucket
    join bounds the quadratic blow-up."""
    planes = VX.random_hyperplanes(dim, n_planes, seed)
    sig = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        VX.norm(F.col(vec_col)).alias("nrm"),
        VX.lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    a = sig.select(
        "bucket", F.col("doc").alias("doc_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a")
    )
    b = sig.select(
        "bucket", F.col("doc").alias("doc_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b")
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "cos",
            VX.cosine_with_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b")
            ),
        )
        .filter(F.col("cos") >= threshold)
    )
    return pairs.select("doc_a", "doc_b", F.round("cos", 6).alias("cosine"))


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    max_cluster: int | None = None,
    train_sample: int = 65536,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal over an embedding column. K-means clusters
    the embedding space (the IVF coarse quantizer — trained on a
    bounded driver sample, assigned in one narrow map), then WITHIN
    each cluster every pair with cosine ≥ ``threshold`` marks its
    larger id as a duplicate; survivors are the input rows minus the
    marked ids (keep-min-id per near-dup group, matching the exact
    dedup family's policy).

    Plan shape: one shuffle collects each cluster (sorted, so in-array
    i<j pairing gives doc_a < doc_b for free), pairs explode in-array,
    and one left_anti join removes the drops. The quadratic in-cluster
    compare is the algorithm's cost model BY DESIGN (SemDeDup's whole
    point is that k-means makes each quadratic small). ``max_cluster``
    is OPT-IN (default: no skip), the family-wide cap policy — a
    skipped cluster is kept UNDEDUPED, a correctness-visible choice the
    caller must make explicitly. When set, clusters larger than
    ``max_cluster`` are never joined, so a degenerate cluster (zero
    vectors, one dominant mode) bounds work instead of exploding it;
    512 is the recommended production value because each pair carries
    BOTH full vectors: even with the two-level pair generate keeping
    per-row values O(cluster), the pair ROW COUNT per cluster is n²/2,
    and 512²/2 ≈ 131k pairs × 2 wide vectors is the sane per-bucket
    work unit. At 100 TB, set a cap AND raise n_clusters so
    N/n_clusters stays under it."""
    from .similarity import ivf_index

    assigned, _ = ivf_index(
        vectors, id_col, vec_col, n_clusters=n_clusters, seed=seed,
        train_sample=train_sample,
    )
    buckets = (
        assigned.groupBy("_cluster")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("neighbor_id", "cvec", "cn"))
            ).alias("docs")
        )
        .filter(_bucket_size_filter(max_cluster))
    )
    drops = (
        _explode_pairs(buckets)
        .withColumn(
            "cos",
            VX.cosine_with_norms(
                F.col("x.cvec"), F.col("y.cvec"), F.col("x.cn"), F.col("y.cn")
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("y.neighbor_id").alias("_drop_id"))
        .distinct()
    )
    return vectors.join(
        drops, vectors[id_col] == drops["_drop_id"], "left_anti"
    )


def _lap_timer():
    """(secs dict, lap(key)) wall-time lap recorder — one shared shape
    for every ingest round's per-step ``secs`` decomposition."""
    import time as _time

    secs: dict[str, float] = {}
    state = {"t0": _time.perf_counter()}

    def lap(key: str) -> None:
        now = _time.perf_counter()
        secs[key] = round(now - state["t0"], 3)
        state["t0"] = now

    return secs, lap


def _ingest_survivor_policy(batch, id_col, vs_corpus, within):
    """The INGEST survivor policy over one round's (bounded) edge
    graph — shared by the MinHash, SimHash and semantic rounds
    (:func:`_edge_round_stage`): any component containing corpus
    content loses its batch members outright (already ingested wins,
    transitively), and a corpus-free component keeps exactly its
    minimum batch member. Returns (survivors, edges); ``survivors`` is
    localCheckpoint-ed, not persisted — the survivor plan reads the
    signature TABLE (through ``vs_corpus``), and the caller appends to
    that table next: an eager checkpoint truncates the lineage so a
    later recompute (cache eviction, caller materializing after
    return) can never re-probe the mutated table and see the batch's
    own just-appended signatures (the probe-before-append rule,
    enforced structurally)."""
    from ..operators.graph import connected_components

    edges = vs_corpus.select(
        F.col("corpus_doc").alias("src"), F.col("batch_doc").alias("dst")
    ).unionByName(
        within.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(edges, src="src", dst="dst")
    corpus_nodes = vs_corpus.select(F.col("corpus_doc").alias("node")).distinct()
    tainted = comp.join(F.broadcast(corpus_nodes), "node", "left_semi").select(
        "comp"
    ).distinct()
    batch_ids = batch.select(F.col(id_col).alias("node"))
    clustered = comp.join(F.broadcast(batch_ids), "node", "left_semi")
    keep_clustered = (
        clustered.join(F.broadcast(tainted), "comp", "left_anti")
        .groupBy("comp")
        .agg(F.min("node").alias("node"))
        .select("node")
    )
    drop_ids = clustered.select("node").exceptAll(keep_clustered)
    survivors = batch.join(
        F.broadcast(drop_ids), batch[id_col] == F.col("node"), "left_anti"
    ).localCheckpoint()
    return survivors, edges


def minhash_ingest_round(
    batch: DataFrame,
    sig_path: str,
    id_col: str,
    text_col: str,
    comp_path: str | None = None,
    threshold: float = 0.6,
    max_bucket: int | None = None,
    compact_trigger: float = 3.0,
    txn: str | None = None,
) -> dict:
    """One ingest round of cross-run dedup, as ONE call — the dedup
    twin of ``similarity.maintain_index``, packaging the loop the
    at-rest pieces exist for:

    1. probe the batch against the corpus signatures
       (``near_duplicates_against`` — corpus text never read) and
       against itself (``minhash_near_duplicates`` under the TABLE's
       pinned params, so both edge sets are computed under one
       hashing);
    2. pick survivors with the INGEST policy, not bare min-label: any
       component containing corpus content loses its batch members
       outright (already ingested wins even when a batch id sorts
       below the corpus id), and a corpus-free component keeps exactly
       its minimum batch member — transitive: a batch doc chained to
       the corpus only through other batch docs drops too;
    3. if ``comp_path`` is given, fold the round's edges into the
       standing cluster assignments (``extend_components_at_rest``) so
       the cluster table tracks the corpus;
    4. append ONLY the survivors' signatures and compact the signature
       table (``sources.compact.compact_partitioned``) when its worst
       partition exceeds ``compact_trigger`` x the table's
       files_per_part.

    The contract every ingest round shares (:func:`_txn_ingest_round`):
    steps 1-3 run strictly before any signature file moves into the
    table, inside the staged-move ledger (sources/txn.py) keyed on
    ``txn``, so a replay can never re-probe a table that already holds
    some of this batch's signatures and see the batch pair with
    itself. With ``txn`` (an idempotency id for at-least-once callers
    — the streaming drain, ``streaming.ingest.stream_minhash_ingest``)
    the survivor ids + stats persist under ``{sig_path}/_rounds`` so
    every replay reconstructs the same report; the components fold
    re-runs only on a full restage, where min-label idempotence makes
    it converge. Without one the round runs under a throwaway ledger
    id whose entries are dropped afterwards (the batch caller's
    contract: don't hand the same batch in twice).

    Returns {action, txn, survivors, n_batch, n_cross_pairs,
    n_within_pairs, extended, n_survivors, compacted, secs} —
    ``survivors`` is the filtered batch DataFrame (already appended;
    append it nowhere else); ``action`` is "appended" on a fresh
    commit, "completed_replay" when a crashed round's frozen staging
    was finished, "skipped_replay" when the round had already
    committed (nothing re-runs); ``secs`` decomposes a fresh round's
    wall time per step (probe / within / survivors / extend / append /
    compact)."""
    import json

    spark = batch.sparkSession
    p = _read_params(spark, sig_path)

    def probe():
        vs_corpus = near_duplicates_against(
            batch, sig_path, id_col, text_col,
            threshold=threshold, max_bucket=max_bucket,
        )
        within = minhash_near_duplicates(
            batch, id_col, text_col, threshold=threshold, max_bucket=max_bucket,
            num_hashes=p["num_hashes"], bands=p["bands"],
            shingle_n=p["shingle_n"], seed=p["seed"], hash_mode=p["hash_mode"],
        )
        return vs_corpus, within, lambda: None

    def write_rows(survivors: DataFrame, stage: str) -> None:
        _write_rows(_BANDED, survivors, id_col, text_col, stage, p, p["files_per_part"])

    def fold(edges: DataFrame) -> dict:
        from ..operators.graph import extend_components_at_rest

        return extend_components_at_rest(spark, comp_path, edges)

    return _txn_ingest_round(
        batch, sig_path.rstrip("/"), id_col, txn,
        _edge_round_stage(
            batch, id_col, probe, write_rows, fold if comp_path is not None else None
        ),
        stats_extract={
            **_EDGE_ROUND_STATS,
            # staged with the round record, so replays reconstruct the
            # fold activity too (None = no comp_path was configured)
            "extended": lambda st: json.loads(st.extended_json)
            if st.extended_json is not None
            else None,
        },
        after_commit=lambda: _maybe_compact_subdir(
            spark, sig_path, _BANDED, compact_trigger, p["files_per_part"]
        ),
    )


def _maybe_compact_subdir(
    spark, root: str, t: _SigTable, compact_trigger: float, files_per_part: int
) -> int:
    """Compact a signature table's data subdir ``t.sub`` when its worst
    partition exceeds ``compact_trigger`` x the table's files_per_part.
    ONE globStatus listing over the table for the trigger — Hadoop
    FileSystem API, so the same trigger works on file/hdfs/s3a."""
    from ..sources.compact import compact_partitioned

    data_dir = f"{root.rstrip('/')}/{t.sub}"
    per_part = FS.files_per_dir(f"{data_dir}/part=*/*.parquet")
    if max(per_part.values(), default=0) > compact_trigger * files_per_part:
        return compact_partitioned(spark, data_dir)["compacted"]
    return 0


def _round_record_paths(root: str, txn: str) -> tuple[str, str]:
    """(survivor-record dir, stats dir) for a committed ingest round.
    Stats live under their OWN root, not ``{safe}_stats`` inside
    ``_rounds`` — a txn literally named "{other}_stats" must not
    collide with txn "{other}"'s stats dir."""
    from ..sources import txn as TXN

    safe = TXN.txn_safe(txn)
    return f"{root}/_rounds/{safe}", f"{root}/_rounds_stats/{safe}"


def _reconstruct_round_survivors(spark, batch, id_col: str, rounds_dir: str):
    """Replay-side rebuild of a committed round's survivors frame from
    its persisted record. Finishes a ``forget_documents`` scrub swap
    that crashed between delete(rec) and rename(tmp, rec) — the
    reader-side twin of forget's own recovery walk — and returns the
    survivor count FROM the record: a later forget legitimately shrinks
    it, while the staged stats hold only the write-time value."""
    tmp_rec = f"{rounds_dir}__scrub_tmp"
    if FS.exists(tmp_rec) and not FS.exists(rounds_dir):
        FS.rename(tmp_rec, rounds_dir)
    surv_ids = spark.read.parquet(rounds_dir).select(
        F.col("doc").alias("__surv_doc")
    )
    survivors = batch.join(
        F.broadcast(surv_ids), batch[id_col] == F.col("__surv_doc"), "left_semi"
    )
    return survivors, surv_ids.count()


def _stage_round_record(spark, stage, survivors, id_col, values, schema) -> None:
    """Stage the round's survivor ids + one-row stats frame next to its
    data files — they move to ``_rounds``/``_rounds_stats`` in the same
    txn, so every replay path reconstructs the identical report without
    recomputing anything."""
    survivors.select(F.col(id_col).alias("doc")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{stage}/survivors")
    spark.createDataFrame([values], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{stage}/round_stats")


def _txn_ingest_round(
    batch: DataFrame,
    root: str,
    id_col: str,
    txn: str | None,
    write_stage,
    stats_extract: dict,
    after_commit,
) -> dict:
    """The one ingest-round body of the four at-rest signature families
    (MinHash / exact fingerprints / SimHash / semantic IVF, IVF-PQ):
    the staged-move ledger protocol (sources/txn.py) wrapped around ONE
    family-specific staging step.

    ``write_stage(stage, state, lap)`` runs the round STRICTLY BEFORE
    any staged file moves into the table (the probe-before-append rule
    — a replay that finds the frozen manifest skips straight to
    completing the moves and never re-probes a table already holding
    some of this batch's rows, which would make the batch pair with
    itself and drop every row). It must compute the survivors (setting
    ``state["survivors"]``), write the table's data files under a stage
    subdir matching the table's data subdir name, stage the survivors +
    the stats row via ``_stage_round_record``, and ``lap`` its steps
    into the report's ``secs``; this body laps ``append`` (staging
    writes + moves) and ``compact``.

    ``stats_extract`` maps report keys to extractors over the staged
    stats row. ``n_survivors`` is handled here: on replay paths it
    derives from the reconstructed record (which a later
    ``forget_documents`` legitimately shrinks), never the write-time
    stats. ``after_commit()`` returns the compaction count; it is
    skipped entirely on an already-committed replay.

    ``txn=None`` runs the same protocol under a throwaway id
    (``sources.txn.ledger_txn``), whose ledger marker and round record
    are dropped once the report is built."""
    from ..sources import txn as TXN

    secs, lap = _lap_timer()
    spark = batch.sparkSession
    state: dict = {"survivors": None}
    with TXN.ledger_txn(root, txn, lambda key: _round_record_paths(root, key)) as key:
        rounds_dir, stats_dir = _round_record_paths(root, key)

        def _report(action: str, compacted: int) -> dict:
            st = spark.read.parquet(stats_dir).collect()[0]
            if state["survivors"] is not None:
                # fresh path: the checkpointed frame write_stage computed
                # — no need to re-read the record it just staged
                survivors = state["survivors"]
                n_surv = int(st.n_survivors)
            else:
                survivors, n_surv = _reconstruct_round_survivors(
                    spark, batch, id_col, rounds_dir
                )
            rep = {"action": action, "txn": txn, "survivors": survivors}
            for k, extract in stats_extract.items():
                rep[k] = extract(st)
            rep["n_survivors"] = n_surv
            rep["compacted"] = compacted
            rep["secs"] = dict(secs)
            return rep

        if TXN.txn_committed(root, key):
            # a crash between the marker write and the staging cleanup
            # (protocol step 4) leaves an orphaned _ingest_tmp/{txn}
            # dir; staged_append's own short-circuit would clear it, but
            # this return runs first — clean it here too, or it
            # permanently trips the forget paths' quiescence guards on a
            # table that is actually quiescent
            FS.delete(TXN.txn_paths(root, key)[1])
            return _report("skipped_replay", 0)

        # a frozen manifest before the run means attempt N-1 crashed
        # mid-move: the protocol completes those moves without
        # re-staging (and without re-probing) — report that distinctly
        had_frozen_stage = FS.exists(f"{TXN.txn_paths(root, key)[1]}/_manifest.json")
        TXN.staged_append(
            root, key, lambda stage: write_stage(stage, state, lap),
            routes={"survivors": rounds_dir, "round_stats": stats_dir},
        )
        lap("append")
        compacted = after_commit()
        lap("compact")
        return _report(
            "completed_replay" if had_frozen_stage else "appended", compacted
        )


def _edge_round_stage(batch: DataFrame, id_col: str, probe, write_rows, fold=None):
    """``write_stage`` for the edge-graph families (MinHash, SimHash,
    semantic). ``probe()`` returns (vs_corpus, within, release): the
    cross and within-batch edge frames, persisted and counted here and
    fed to :func:`_ingest_survivor_policy`, and a callable freeing what
    the probe holds. ``fold(edges)`` (MinHash's optional standing-
    cluster fold) runs on the round's edges. ``write_rows(survivors,
    stage)`` writes the table's data files; it runs BEFORE the round
    record is staged, because the IVF index keeps its data at the
    table root and its writer overwrites the stage root."""
    import json

    spark = batch.sparkSession

    def write_stage(stage: str, state: dict, lap) -> None:
        vs_corpus, within, release = probe()
        vs_corpus, within = vs_corpus.persist(), within.persist()
        try:
            n_cross = vs_corpus.count()
            lap("probe")
            n_within = within.count()
            lap("within")
            survivors, edges = _ingest_survivor_policy(
                batch, id_col, vs_corpus, within
            )
            n_surv = survivors.count()
            lap("survivors")
            extended = None
            if fold is not None:
                extended = fold(edges)
                lap("extend")
            state["survivors"] = survivors
            write_rows(survivors, stage)
            _stage_round_record(
                spark, stage, survivors, id_col,
                (
                    batch.count(), n_cross, n_within, n_surv,
                    json.dumps(extended) if extended is not None else None,
                ),
                "n_batch long, n_cross_pairs long, n_within_pairs long, "
                "n_survivors long, extended_json string",
            )
        finally:
            vs_corpus.unpersist()
            within.unpersist()
            release()  # the counts + checkpointed survivors read it all

    return write_stage


# report keys every edge-graph round extracts from its staged stats row
_EDGE_ROUND_STATS = {
    "n_batch": lambda st: int(st.n_batch),
    "n_cross_pairs": lambda st: int(st.n_cross_pairs),
    "n_within_pairs": lambda st: int(st.n_within_pairs),
}


def fingerprint_ingest_round(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    compact_trigger: float = 3.0,
    txn: str | None = None,
) -> dict:
    """One cross-run EXACT-dedup ingest round, as ONE call — the exact
    sibling of :func:`minhash_ingest_round`, same lifecycle over the
    fingerprint table written by :func:`write_fingerprints`:

    1. collapse within-batch exact duplicates (:func:`dedup_exact` —
       keep min id per identical-content group);
    2. probe the remainder against the at-rest corpus fingerprints
       (:func:`dedup_exact_against` — corpus scan pruned to the batch's
       fingerprint partitions, never shuffled);
    3. append ONLY the survivors' fingerprints and compact the table
       when its worst partition exceeds ``compact_trigger`` x the
       table's files_per_part.

    Same contract as :func:`minhash_ingest_round`: the probe runs
    strictly before any staged fingerprint moves into the table (a
    replay of a half-appended batch must not see its own fingerprints
    and drop every row), ``txn`` keys the staged-move ledger, and
    ``txn=None`` uses a throwaway ledger id. Returns {action, txn,
    survivors, n_batch, n_within_dups, n_corpus_hits, n_survivors,
    compacted, secs}; ``secs`` laps within / probe / append /
    compact."""
    spark = batch.sparkSession
    p = _read_params(spark, path)
    fpp = p["files_per_part"]

    def write_stage(stage: str, state: dict, lap) -> None:
        deduped = dedup_exact(batch, id_col, text_col)
        n_ded = deduped.count()
        lap("within")
        # localCheckpoint: the survivor plan reads the fingerprint
        # TABLE, which the moves mutate next — eager truncation keeps
        # a later recompute from probing the grown table
        survivors = dedup_exact_against(
            deduped, path, id_col, text_col
        ).localCheckpoint()
        n_surv = survivors.count()
        lap("probe")
        n_batch = batch.count()
        state["survivors"] = survivors
        _write_rows(_FINGERPRINTS, survivors, id_col, text_col, stage, p, fpp)
        _stage_round_record(
            spark, stage, survivors, id_col,
            (n_batch, n_batch - n_ded, n_ded - n_surv, n_surv),
            "n_batch long, n_within_dups long, n_corpus_hits long, "
            "n_survivors long",
        )

    return _txn_ingest_round(
        batch, path.rstrip("/"), id_col, txn, write_stage,
        stats_extract={
            "n_batch": lambda st: int(st.n_batch),
            "n_within_dups": lambda st: int(st.n_within_dups),
            "n_corpus_hits": lambda st: int(st.n_corpus_hits),
        },
        after_commit=lambda: _maybe_compact_subdir(
            spark, path, _FINGERPRINTS, compact_trigger, fpp
        ),
    )


def simhash_ingest_round(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    max_distance: int | None = None,
    max_bucket: int | None = None,
    compact_trigger: float = 3.0,
    txn: str | None = None,
) -> dict:
    """One cross-run SIMHASH ingest round, as ONE call — the Hamming-
    tolerant sibling of :func:`minhash_ingest_round`, same lifecycle
    over the segment index written by :func:`write_simhash_index`:

    1. probe the batch against the corpus segments
       (:func:`simhash_near_duplicates_against` — corpus text never
       read, scan pruned to the batch's segment partitions) and against
       itself (:func:`simhash_hamming_pairs` under the INDEX's pinned
       params, so both edge sets share one fingerprinting);
    2. pick survivors with the shared INGEST policy
       (:func:`_ingest_survivor_policy` — corpus wins transitively,
       corpus-free components keep their min batch member);
    3. append ONLY the survivors' segments and compact on the same
       worst-partition trigger as the rest of the family.

    ``max_distance`` may be lowered below the index's stored value
    (pigeonhole still complete); raising it is rejected by the probe.
    Same contract as :func:`minhash_ingest_round`: the probe runs
    strictly before any staged segment moves into the index, ``txn``
    keys the staged-move ledger, and ``txn=None`` uses a throwaway
    ledger id. Returns {action, txn, survivors, n_batch,
    n_cross_pairs, n_within_pairs, n_survivors, compacted, secs}."""
    spark = batch.sparkSession
    p = _read_params(spark, path)
    fpp = p["files_per_part"]
    d = p["max_distance"] if max_distance is None else max_distance

    def probe():
        vs_corpus = simhash_near_duplicates_against(
            batch, path, id_col, text_col,
            max_distance=max_distance, max_bucket=max_bucket,
        )
        if d >= 1:
            within = simhash_hamming_pairs(
                batch, id_col, text_col, max_distance=d,
                bits=p["bits"], hash_mode=p["hash_mode"], max_bucket=max_bucket,
            )
        else:
            # distance 0: identical-fingerprint pairs (the bucket form)
            fp = simhash(batch, id_col, text_col, p["bits"], p["hash_mode"])
            within = (
                fp.select(F.col("doc").alias("doc_a"), "simhash")
                .join(fp.select(F.col("doc").alias("doc_b"), "simhash"), "simhash")
                .filter(F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b")
            )
        return vs_corpus, within, lambda: None

    def write_rows(survivors: DataFrame, stage: str) -> None:
        _write_rows(_SEGMENTS, survivors, id_col, text_col, stage, p, fpp)

    return _txn_ingest_round(
        batch, path.rstrip("/"), id_col, txn,
        _edge_round_stage(batch, id_col, probe, write_rows),
        stats_extract=_EDGE_ROUND_STATS,
        after_commit=lambda: _maybe_compact_subdir(
            spark, path, _SEGMENTS, compact_trigger, fpp
        ),
    )


def forget_documents(spark, table_path: str, ids: DataFrame) -> dict:
    """Right-to-be-forgotten for the cross-run dedup tables: hard-
    delete every row of the given doc ids from a signature table at
    rest — MinHash (``banded``), exact fingerprints (``fingerprints``)
    or SimHash segments (``segments``), layout-sniffed — via the
    partition-pruned deletion plan (``sources.forget``): one
    column-pruned key scan finds the partitions holding the docs' rows
    (for key-hash-partitioned fingerprints that is ≤ |ids| partitions;
    for the band/segment tables a doc's rows spread across its
    bands'/segments' partitions), only those rewrite.

    Forgotten docs stop matching future probes IMMEDIATELY (gated in
    tests and the doc_forget_docs oracle). Write-time ``bucket_size``
    stats are refreshed to ``max(0, old − deleted-from-bucket)`` inside
    the rewrite (r13, VERDICT r12 item 5 — previously a capped probe
    could skip a bucket that had shrunk below the cap; the delta form
    keeps the per-write-segment cap promise and adds no shuffle, see
    ``delete_rows_partitioned``). Untouched partitions keep their
    per-write-segment values. Returns the deletion stats dict plus
    ``table`` (which layout was hit)."""
    from ..sources.compact import ensure_recovered
    from ..sources.forget import delete_rows_partitioned

    root = table_path.rstrip("/")
    # quiescence guard: a crashed-but-uncommitted ingest txn holds a
    # frozen staging manifest whose remaining moves target THESE
    # partitions — rewriting them now would strand that replay
    # mid-move. Forget runs on a quiescent table by contract; finish
    # (re-drain the stream) or discard the staging first. Staging
    # litter from an already-COMMITTED txn (crash between marker and
    # cleanup) is reaped here (explicitly — pending_txns is read-only
    # by default), not counted.
    from ..sources.txn import pending_txns

    pending = pending_txns(root, reap_committed=True)
    if pending:
        raise RuntimeError(
            f"{len(pending)} in-flight ingest transaction(s) staged under "
            f"{root}/_ingest_tmp — re-drain the stream (completing the "
            "replay) before forgetting, or delete the staging to abandon it"
        )
    for t in _SIG_TABLES:
        if FS.exists(f"{root}/{t.sub}"):
            ensure_recovered(f"{root}/{t.sub}")
            # refresh_stats: the hot-bucket cap column recomputes over
            # the touched partitions' survivors inside the rewrite, so
            # a capped probe no longer under-recalls on a shrunk bucket
            stats = delete_rows_partitioned(
                spark, f"{root}/{t.sub}", ids, key_col="doc",
                partition_col="part",
                files_per_part=_read_params(spark, root)["files_per_part"],
                refresh_stats=("bucket_size", list(t.keys)) if t.bucket_size else None,
            )
            stats["table"] = t.sub
            # hard delete means the whole ROOT: the per-txn survivor
            # records under _rounds/ also hold doc ids — scrub them
            # too (filtered copy + swap, with recovery for a crashed
            # swap), so nothing about a forgotten doc survives at
            # rest. _rounds_stats/ holds counts only, never ids.
            for tmp_rec in FS.glob_paths(f"{root}/_rounds/*__scrub_tmp"):
                orig = tmp_rec[: -len("__scrub_tmp")]
                if FS.exists(orig):
                    FS.delete(tmp_rec)  # crashed before the old record dropped
                else:
                    FS.rename(tmp_rec, orig)  # crashed mid-swap
            scrubbed = 0
            forget_ids = F.broadcast(
                ids.select(F.col(ids.columns[0]).alias("doc")).distinct()
            )
            for rec in FS.glob_paths(f"{root}/_rounds/*"):
                record = spark.read.parquet(rec)
                n_hit = record.join(forget_ids, "doc", "left_semi").count()
                if n_hit == 0:
                    continue
                tmp_rec = f"{rec}__scrub_tmp"
                FS.delete(tmp_rec)
                record.join(forget_ids, "doc", "left_anti").coalesce(1).write.mode(
                    "overwrite"
                ).parquet(tmp_rec)
                FS.delete(rec)
                FS.rename(tmp_rec, rec)
                scrubbed += n_hit
            stats["round_records_scrubbed"] = int(scrubbed)
            return stats
    raise ValueError(
        f"{table_path} holds no {'/'.join(t.sub for t in _SIG_TABLES)} table — "
        "not a cross-run dedup table root"
    )
