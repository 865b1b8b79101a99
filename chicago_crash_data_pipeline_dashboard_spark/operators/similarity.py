"""Similarity search over embedding columns (array<float>).

Two paths, same API:

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Queries are broadcast (they're top-k *requests*, inherently small);
  the corpus streams through one narrow pass; per-query top-k via
  window row_number. No corpus shuffle at all when queries broadcast.
- ``lsh_topk``: sign-LSH bucketed ANN — the 100 TB path. Corpus is
  bucketed once (signature = narrow map); a query probes its own
  bucket plus multi-probe neighbors (Hamming-1 flips), exact-reranks
  in-bucket. Recall tunes with n_planes / probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions import vectors as VX
from ..sources import fsutil as FS


def _topk_by_cos(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k tail shared by every ANN variant:
    rank on (cosine desc, neighbor_id asc), keep k.

    Scale shape: Spark ≥ 3.5 plans a ``row_number() <= k`` filter as
    WindowGroupLimit with a PARTIAL stage before the exchange — each
    map task pre-prunes to its local top-k per query, so the shuffle
    carries at most k·n_partitions rows per query and the final
    per-query window task never sees the full candidate population
    (asserted in tests/test_plans.py). The candidate-bounding above
    this tail (LSH buckets / IVF probes / PQ's salted ADC stage) is
    still what bounds total work; this bounds the tail itself."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("long").alias("rank"))
    )


def _driver_sample(corpus: DataFrame, vec_col: str, train_sample: int, seed: int):
    """Bounded driver-side vector sample for quantizer training — the
    repo's one deliberate collect (FAISS discipline: quantizers train
    on a sample; only the narrow assignment map sees the corpus)."""
    n = corpus.count()
    frac = min(1.0, train_sample / max(n, 1))
    sample_df = corpus.sample(fraction=frac, seed=seed) if frac < 1.0 else corpus
    return [r[0] for r in sample_df.select(vec_col).collect()]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k: for each query vector, the k nearest corpus vectors
    by cosine (self-matches excluded). Deterministic tie-break on
    (cosine desc, neighbor id asc)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        VX.norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                VX.cosine_with_norms(
                    F.col("cvec"), F.col("qvec"), F.col("cn"), F.col("qn")
                ),
                6,
            ),
        )
    )
    return _topk_by_cos(scored, k)


def _flip_signatures(sig_col, n_planes: int):
    """The signature plus its Hamming-1 neighbors (multi-probe)."""
    return F.array(sig_col, *[sig_col.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    multi_probe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing the
    query's LSH bucket (± Hamming-1 probes), exact cosine rerank."""
    planes = VX.random_hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cn"),
        VX.lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        VX.norm(F.col(vec_col)).alias("qn"),
        VX.lsh_signature(F.col(vec_col), planes).alias("qsig"),
    )
    if multi_probe:
        q = q.select(
            "query_id", "qvec", "qn",
            F.explode(_flip_signatures(F.col("qsig"), n_planes)).alias("bucket"),
        )
    else:
        q = q.withColumnRenamed("qsig", "bucket")

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                VX.cosine_with_norms(
                    F.col("cvec"), F.col("qvec"), F.col("cn"), F.col("qn")
                ),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cos")
        .distinct()  # multi-probe can hit the same pair via two buckets
    )
    return _topk_by_cos(scored, k)


# Above this cluster count, Lloyd assignment routes through the chunked
# float32 sgemm (see _fit_quantizer); at or below it, the per-center
# float64 fill that is bit-identical to the naive reference. All gate
# quantizers (k <= 64) stay on the exact-legacy path.
_LLOYD_MATMUL_MIN_K = 65
_LLOYD_CHUNK = 8192

# Rerank-fetch IN-literal cap (see _indexed_rerank): below this many
# candidate ids the pushed IN prunes row groups and is cheap to
# evaluate; above it, only the min/max range filter pushes and the
# broadcast candidate join selects.
_RERANK_IN_MAX = 2048

# Above this many coarse centroids, BOTH the write-side corpus
# assignment (write_ivf_index / write_ivfpq_index "auto") and the
# query-side cluster probe (ivf_topk_indexed / ivfpq_topk_indexed)
# route through numpy instead of the HOF plan-literal form — ONE
# shared switch so a corpus is never assigned by one regime while its
# probes run the other (r10 ADVICE: at 33-64 clusters the two regimes
# split, and near-tie vectors could assign and probe inconsistently).
# 32 is where HOF codegen compile cost starts to bite (minutes of
# Janino at k=64 — see assign_clusters_batched's docstring).
_BATCHED_ASSIGN_MIN_K = 33


def _typed_struct(src_schema, id_col: str, id_alias: str, vec_col: str, extra_fields):
    """Output StructType for the Arrow-batched corpus passes, with the
    id and vector fields carrying the SOURCE column types — an
    array<double> embedding or a string/int id passes through untouched
    instead of being silently downcast by a hardcoded
    ``long``/``array<float>`` literal schema (r10 ADVICE item 1)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(id_alias, src_schema[id_col].dataType, True),
            T.StructField("cvec", src_schema[vec_col].dataType, True),
            *extra_fields,
        ]
    )


def _fit_quantizer(sample, n_clusters: int, seed: int, max_iter: int = 20):
    """Seeded Lloyd k-means on a driver-side numpy sample (k-means++
    init). The coarse quantizer of an IVF index is ALWAYS trained on a
    bounded sample in production (FAISS-style) — the full corpus only
    flows through the one-pass assignment map, so no per-iteration
    distributed jobs exist at any scale.

    Seeding tracks the running min distance INCREMENTALLY (each new
    center contributes one O(n·d) pass and an elementwise min) and
    Lloyd assignment fills an n×k matrix one center at a time — the
    naive 3-d broadcast form recomputes every center's distances per
    seeding step (O(k²·n·d) flops, an n×k×d temporary per step: 150 s
    at k=64 / n=8192 / d=64 where this form takes <1 s). Both loops
    compute the identical per-center expression ``((x − c)²).sum(-1)``,
    so every float — and therefore every seeded pick and final centroid
    — is BIT-IDENTICAL to the naive form (pinned by a regression test
    against the reference implementation).

    Above ``_LLOYD_MATMUL_MIN_K`` clusters (production IVF sizes
    k ≈ √N — the gates never exceed 64) the per-center Lloyd fill is
    O(k·n·d) of strided numpy with no BLAS, which the r10 1M-vector
    probe measured at ~50 s PER ITERATION at k=1000/n=65536 (444 s to
    train). There assignment switches to a chunked float32 sgemm over
    the rank-equal form ``argmin_j ‖c_j‖² − 2·x·c_j`` (~0.3 s per
    iteration, ~170× — this host's OpenBLAS runs one big dgemm at
    ~1 GFLOP/s but chunked sgemm at ~28 GFLOP/s, hence chunk + f32;
    FAISS likewise trains its coarse quantizer in float32). Mean
    updates and the convergence test stay float64; only the argmin is
    f32, which on clustered data selects the same centers — the two
    paths are agreement-tested on separated data, not bit-for-bit."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    if x.size == 0:
        # surface the real problem, not numpy's "low >= high"
        raise ValueError(
            "cannot train a quantizer on an empty corpus sample — "
            "the input frame has no vectors"
        )
    rng = np.random.RandomState(seed)
    # k-means++ seeding with incremental min-distance tracking
    centers = [x[rng.randint(len(x))]]
    d2 = ((x - centers[0]) ** 2).sum(-1)
    for _ in range(1, n_clusters):
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(x[rng.choice(len(x), p=probs)])
        d2 = np.minimum(d2, ((x - centers[-1]) ** 2).sum(-1))
    c = np.asarray(centers)
    use_matmul = n_clusters >= _LLOYD_MATMUL_MIN_K
    x32 = x.astype(np.float32) if use_matmul else None
    dists = None if use_matmul else np.empty((len(x), n_clusters))
    for _ in range(max_iter):
        if use_matmul:
            c32 = c.astype(np.float32)
            c_sq = (c32 * c32).sum(axis=1)
            assign = np.empty(len(x), dtype=np.int64)
            for i in range(0, len(x), _LLOYD_CHUNK):
                blk = x32[i : i + _LLOYD_CHUNK]
                assign[i : i + _LLOYD_CHUNK] = (
                    c_sq[None, :] - 2.0 * (blk @ c32.T)
                ).argmin(axis=1)
        else:
            for j in range(n_clusters):
                dists[:, j] = ((x - c[j]) ** 2).sum(-1)
            assign = dists.argmin(axis=1)
        new_c = np.array(
            [x[assign == j].mean(axis=0) if (assign == j).any() else c[j] for j in range(n_clusters)]
        )
        if np.allclose(new_c, c):
            break
        c = new_c
    return c


def _centroid_dists(vec_col, centroids):
    """L2 distance to every centroid as ONE array column.

    The centroid matrix enters the plan as ONE constant
    (``from_json`` of a string literal, constant-folded by Catalyst to
    an array<array<double>>) — not 16×64 scalar literal nodes, and not
    a py4j element-by-element transfer (a nested ``F.lit`` costs ~1 s
    of driver time for a 16×64 matrix; the JSON string is a single
    call). JSON round-trips doubles exactly (repr → correctly-rounded
    parse), and the distance loop is a HOF over the constant."""
    import json

    cents = F.from_json(
        F.lit(json.dumps([[float(x) for x in c] for c in centroids])),
        "array<array<double>>",
    )
    return F.transform(cents, lambda c: VX.l2_distance(vec_col, c))


def _nearest_centroid(vec_col, centroids) -> "F.Column":
    """argmin L2 over the centroid list (first index on ties)."""
    return VX.let(
        _centroid_dists(vec_col, centroids),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def _probe_clusters(vec_col, centroids, n_probe: int):
    """Indices of the ``n_probe`` nearest centroids, ties broken by
    cluster id (same ordering as sorting (distance, id) structs)."""
    k = len(centroids)

    def body(d):
        structs = F.zip_with(
            d,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda dist, i: F.struct(dist.alias("d"), i.alias("c")),
        )
        return F.transform(F.slice(F.array_sort(structs), 1, n_probe), lambda s: s["c"])

    return VX.let(_centroid_dists(vec_col, centroids), body)


def assign_clusters_batched(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment as an Arrow-batched numpy matmul —
    the LARGE-k alternative to the constant-folded HOF assignment
    (``_nearest_centroid``) used by ``ivf_index``; select it there via
    ``assignment="batched"`` (driver-gated as ``emb_ivf_largek``).
    Rows with NULL vectors are rejected with an explicit error — same
    contract as the HOF path, where a NULL has no nearest centroid.

    Why two paths: the HOF form embeds the k×d centroid matrix as one
    plan literal, which is ideal for small k (pure JVM, no Python) but
    whole-stage codegen COMPILE time grows with the expression — at
    k=64/d=64 the first run of a joined stage measured ~4 min of Janino
    compilation (then ~6 s per run from the codegen cache; 20 s
    interpreted with codegen off). A production IVF sizes k ≈ √N —
    thousands of clusters at 100 TB — where a plan-literal expression
    is not viable at all. This path broadcasts the centroid matrix to
    Python workers and computes argmin ‖x−c‖² per Arrow batch via one
    BLAS matmul (‖x‖² is rank-invariant and omitted): O(batch·k·d)
    with no generated-code growth in k.

    Returns (neighbor_id, cvec, cn, _cluster) — the same frame shape
    ``ivf_index`` produces. Ties break on the lowest cluster index,
    matching the HOF's ``array_position(array_min)`` semantics (exact
    FP equality of the two paths is not guaranteed — matmul reorders
    the fold — so agreement is asserted on separated data in tests,
    not bit-for-bit)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    c = np.asarray(centroids, dtype=np.float64)  # k × d
    c_sq = (c * c).sum(axis=1)  # ‖c‖² per centroid
    out_schema = _typed_struct(
        corpus.schema,
        id_col,
        "neighbor_id",
        vec_col,
        [
            T.StructField("cn", T.DoubleType(), True),
            T.StructField("_cluster", T.IntegerType(), True),
        ],
    )

    def assign(batches):
        for pdf in batches:
            if pdf[vec_col].isna().any():
                raise ValueError(
                    f"assign_clusters_batched: NULL {vec_col!r} rows are not "
                    "assignable — filter them out first (the HOF path "
                    "rejects them the same way: a NULL vector has no "
                    "nearest centroid)"
                )
            vecs = np.stack(pdf[vec_col].map(np.asarray, na_action=None).values).astype(
                np.float64
            )
            # argmin_j ‖x−c_j‖² = argmin_j (‖c_j‖² − 2·x·c_j); ties →
            # lowest j (np.argmin returns the first minimum)
            dists = c_sq[None, :] - 2.0 * (vecs @ c.T)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].values,
                    "cvec": pdf[vec_col].values,
                    "cn": np.sqrt((vecs * vecs).sum(axis=1)),
                    "_cluster": dists.argmin(axis=1).astype("int32"),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(assign, out_schema)


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    train_sample: int = 65536,
    assignment: str = "hof",
):
    """IVF coarse quantizer: seeded k-means centroids fit on a bounded
    driver-side sample, then ONE narrow assignment map over the corpus
    (no iterative distributed jobs). Returns the cluster-assigned
    corpus and the centroid list.

    ``assignment`` selects the nearest-centroid map: ``"hof"`` (the
    default) folds the centroid matrix into a pure-JVM higher-order
    expression — ideal at small k, but whole-stage codegen COMPILE time
    grows with k (minutes of Janino at k=64; see COVERAGE.md scale
    probes). ``"batched"`` routes through
    :func:`assign_clusters_batched` (Arrow-batched numpy matmul, no
    generated-code growth in k) — the documented production path for
    k ≈ √N cluster counts.

    At 100 TB: the sample cap keeps quantizer training O(sample);
    assignment stays a narrow map; ``write_ivf_index`` persists the
    assigned corpus PARTITIONED by cluster id so each probe reads only
    its clusters' files (partition pruning = the inverted file —
    ``ivf_topk_indexed`` is that probe path)."""
    if assignment not in ("hof", "batched"):
        raise ValueError(f"assignment must be 'hof' or 'batched', got {assignment!r}")
    sample = _driver_sample(corpus, vec_col, train_sample, seed)
    centroids = _fit_quantizer(sample, n_clusters, seed)
    return _assigned_frame(corpus, centroids, id_col, vec_col, assignment), centroids


def _assigned_frame(
    corpus: DataFrame, centroids, id_col: str, vec_col: str, assignment: str
) -> DataFrame:
    """(neighbor_id, cvec, cn, _cluster) under GIVEN centroids — the
    assignment map shared by index build (freshly trained quantizer)
    and incremental append (quantizer read back from the index)."""
    if assignment not in ("hof", "batched"):
        raise ValueError(f"assignment must be 'hof' or 'batched', got {assignment!r}")
    if assignment == "batched":
        return assign_clusters_batched(corpus, centroids, id_col, vec_col)
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cn"),
        _nearest_centroid(F.col(vec_col), centroids).alias("_cluster"),
    )


def _cluster_aligned(enc: DataFrame, files_per_cluster: int) -> DataFrame:
    """Repartition on _cluster (+ a row-hash salt when
    files_per_cluster > 1) BEFORE partitionBy, so each cluster
    directory receives AT MOST files_per_cluster files from this write
    — without it every write task emits a file into every cluster it
    sees (tasks x clusters files; the r10 1M probe measured 30,549
    files for a 1000-cluster index)."""
    if files_per_cluster > 1:
        salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(files_per_cluster))
        return enc.repartition(F.col("_cluster"), salt)
    return enc.repartition(F.col("_cluster"))


def _write_clusters(enc: DataFrame, out: str, files_per_cluster: int) -> None:
    """The one writer of the cluster-partitioned kinds — build, append,
    ingest round and compaction all write through it: cluster-aligned
    ``partitionBy("_cluster")``, and IVF-PQ rows (those carrying
    ``codes``) id-sorted within files so the exact rerank's IN filter
    skips row groups."""
    enc = _cluster_aligned(enc, files_per_cluster)
    if "codes" in enc.columns:
        enc = enc.sortWithinPartitions("_cluster", "neighbor_id")
    enc.write.partitionBy("_cluster").mode("overwrite").parquet(out)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    assignment: str = "hof",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest centroids
    per query, exact cosine rerank within the probed clusters. Recall
    tunes with n_probe/n_clusters; the corpus-side work is one k-means
    assignment plus a bucket join (no all-pairs scan). ``assignment``
    picks the corpus-assignment map (see :func:`ivf_index` — use
    ``"batched"`` at large k)."""
    assigned, centroids = ivf_index(
        corpus, id_col, vec_col, n_clusters, seed, assignment=assignment
    )
    q = _probed_queries(queries, centroids, id_col, vec_col, n_probe)
    return _score_probed(assigned, q, k)


def _probed_queries(
    queries: DataFrame, centroids, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """Query side of an IVF search: one row per (query, probed cluster).
    NULL-vector queries are filtered (r15, same fix as
    :func:`_probed_compact_hof`): the explode does NOT drop them — the
    probes array transforms the non-null centroid literal, so a NULL
    vector still yields n_probe real cluster ids — and each NULL row
    would pay n_probe no-hit join rows (its cosine is NULL and fails
    every threshold/rank anyway)."""
    probes = _probe_clusters(F.col(vec_col), centroids, n_probe)
    return queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        VX.norm(F.col(vec_col)).alias("qn"),
        F.explode(probes).alias("_cluster"),
    )


def _probed_queries_batched(
    queries: DataFrame, centroids, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`_probed_queries` — the
    DISTRIBUTED probe for large-k indexes, arithmetic-matched to
    :func:`assign_clusters_batched` (the same ``‖c‖² − 2·x·c`` form,
    ties to the lowest cluster index via stable argsort). The regime
    must match the index's write-side assignment: above
    ``_BATCHED_ASSIGN_MIN_K`` clusters the corpus was assigned by the
    numpy regime, and probing it with the HOF sequential-fold distances
    can rank a near-tie differently — a vector identical to an indexed
    row could then prune away the very cluster that row lives in (the
    r10 regime-switch invariant ivf_topk_indexed / ivfpq_topk_indexed
    already honor driver-side; this is its distributed form, for
    batch-sized probe frames that must never collect)."""
    return _probed_compact_batched(queries, centroids, id_col, vec_col, n_probe).select(
        "query_id", "qvec", "qn", F.explode("_probes").alias("_cluster")
    )


def _probed_compact_batched(
    queries: DataFrame, centroids, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """UNEXPLODED probe frame (query_id, qvec, qn, _probes array<int>)
    under the Arrow-batched numpy regime — one row per query vector.
    :func:`_probed_queries_batched` is its exploded view; the semantic
    against-corpus family collects THIS form so the driver-side probe
    materialization carries each vector once, not n_probe times."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c * c).sum(axis=1)
    take = min(n_probe, len(centroids))
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType, True),
            T.StructField("qvec", queries.schema[vec_col].dataType, True),
            T.StructField("qn", T.DoubleType(), True),
            T.StructField("_probes", T.ArrayType(T.IntegerType()), True),
        ]
    )

    def probe(batches):
        for pdf in batches:
            if pdf[vec_col].isna().any():
                raise ValueError(
                    "probe: NULL vector rows are not probe-able — filter "
                    "them out first (the HOF path rejects them the same way)"
                )
            vecs = np.stack(
                pdf[vec_col].map(np.asarray, na_action=None).values
            ).astype(np.float64)
            dists = c_sq[None, :] - 2.0 * (vecs @ c.T)
            order = np.argsort(dists, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col].values,
                    "qvec": pdf[vec_col].values,
                    "qn": np.sqrt((vecs * vecs).sum(axis=1)),
                    "_probes": list(order.astype("int32")),
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(probe, out_schema)


def _probed_compact_hof(
    queries: DataFrame, centroids, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """UNEXPLODED probe frame under the plan-constant HOF regime —
    the pre-explode form of :func:`_probed_queries`. NULL-vector
    queries are filtered on the VECTOR column (r15, ADVICE r14): a
    NULL vector can never produce a hit (its cosine is NULL and fails
    every threshold in the HOF join), but its ``_probes`` array is
    NOT null — ``_probe_clusters`` transforms the non-null centroid
    literal, yielding real cluster ids ranked by NULL distances — so
    an ``isNotNull`` filter on ``_probes`` let NULL rows pollute the
    pruning list and crash a forced ``verify='batched'`` matmul with
    an opaque ``np.asarray(None)`` TypeError."""
    probes = _probe_clusters(F.col(vec_col), centroids, n_probe)
    return (
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            VX.norm(F.col(vec_col)).alias("qn"),
            probes.alias("_probes"),
        )
    )


def _score_probed(assigned: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact cosine rerank of probed clusters: broadcast the (tiny)
    exploded query side against the cluster-assigned corpus."""
    scored = (
        assigned.join(F.broadcast(q), "_cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                VX.cosine_with_norms(
                    F.col("cvec"), F.col("qvec"), F.col("cn"), F.col("qn")
                ),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cos")
        .distinct()
    )
    return _topk_by_cos(scored, k)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    train_sample: int = 65536,
    assignment: str = "auto",
    files_per_cluster: int = 1,
    centroids=None,
) -> list[list[float]]:
    """Materialize the IVF inverted file AT REST: the cluster-assigned
    corpus written as parquet ``partitionBy("_cluster")``, plus the
    centroid list under ``{path}/_centroids`` (underscore-prefixed, so
    parquet discovery skips it like ``_SUCCESS``). Partition pruning IS
    the inverted file — a probe reads only its clusters' directories,
    so at 100 TB an n_probe/n_clusters probe touches that fraction of
    the corpus bytes instead of all of them.

    ``assignment`` picks the nearest-centroid map (see ``ivf_index``):
    ``"auto"`` (default) routes through the Arrow-batched numpy path
    above 32 clusters — a production IVF sizes n_clusters ≈ √N, where
    the HOF plan-literal form hits minutes of codegen compile (the
    1M × 1000-cluster probe, COVERAGE.md) — and keeps the pure-JVM HOF
    below it.

    The write is cluster-aligned: rows repartition on ``_cluster`` (+ a
    row-hash salt when ``files_per_cluster`` > 1) BEFORE
    ``partitionBy``, so each cluster directory holds AT MOST
    ``files_per_cluster`` files (hash collisions and AQE small-
    partition coalescing can merge salt groups, never split them).
    Without this, every write task emits a file into every cluster
    directory it sees — tasks × clusters files (the r10 1M probe
    measured 30,549 files for a 1000-cluster index, and every later
    probe pays that listing). ``files_per_cluster`` > 1 is the skew
    valve at scale: a hot cluster spreads across up to that many
    writers/files.

    ``centroids``: pass a previously trained quantizer (e.g. from
    ``read_ivf_centroids``) to REBUILD without retraining —
    ``n_clusters``/``seed``/``train_sample`` are then ignored. This is
    the full-rewrite path for an index grown by ``append_to_ivf_index``
    (same quantizer ⇒ identical assignments ⇒ probe results equal, but
    every cluster back at ``files_per_cluster`` files); at scale prefer
    :func:`compact_index`, which rewrites only the bloated clusters."""
    drift = None
    if centroids is None:
        sample = _driver_sample(corpus, vec_col, train_sample, seed)
        centroids = _fit_quantizer(sample, n_clusters, seed)
        drift = _sample_drift_baseline(sample, centroids)
    else:
        n_clusters = len(centroids)
    if assignment == "auto":
        assignment = _assign_regime(centroids)
    _write_clusters(
        _assigned_frame(corpus, centroids, id_col, vec_col, assignment),
        path, files_per_cluster,
    )
    cents = [[float(x) for x in c] for c in centroids]
    _write_centroids_meta(corpus.sparkSession, path, cents, drift)
    return cents


def read_ivf_centroids(spark, path: str) -> list[list[float]]:
    """Centroid list persisted by ``write_ivf_index`` (one tiny JSON
    row — a driver-side read by design, like the quantizer sample)."""
    import json

    return json.loads(spark.read.json(f"{path}/_centroids").collect()[0].centroids_json)


# --------------------------------------------------------------------------
# Appends — one body for the three kinds, through the staged-move ledger
# (sources/txn.py, shared with the dedup signature tables).
# --------------------------------------------------------------------------

from ..sources.txn import (  # noqa: E402 — grouped with the family it guards
    staged_append,
    txn_committed,
    txn_paths as _txn_paths,
)


def _write_index_rows(
    rows: DataFrame, out: str, kind: str, quantizers, id_col: str, vec_col: str,
    files_per_cluster: int,
) -> None:
    """Encode ``rows`` under an index's SAVED ``quantizers``
    (:func:`_read_quantizers` — never retrained; the assignment regime
    and encode mode come from the index, so the rows land exactly where
    a same-quantizer rebuild puts them) and write them in the kind's
    layout under ``out`` — the append's and the ingest round's stage."""
    centroids, codebook, encode = quantizers
    if kind == "pq":
        _write_pq_tables(_pq_corpus_frames(rows, id_col, vec_col, codebook), out)
        return
    regime = _assign_regime(centroids, codebook, encode)
    if kind == "ivf":
        enc = _assigned_frame(rows, centroids, id_col, vec_col, regime)
    else:
        enc = _ivfpq_encoded(rows, centroids, codebook, id_col, vec_col, regime, encode)
        out = f"{out}/data"
    _write_clusters(enc, out, files_per_cluster)


def _append_to_index(
    batch: DataFrame, path: str, id_col: str, vec_col: str,
    files_per_cluster: int, txn: str | None,
):
    """The one append body of the three index kinds: read the saved
    quantizers, then stage the encoded batch through the ledger
    (``txn`` keys it; ``None`` runs it under an anonymous id). Returns
    the (centroids, codebook, encode) the batch was encoded with."""
    root = path.rstrip("/")
    kind, data_dir, _ = _index_layout(root)
    quantizers = _read_quantizers(batch.sparkSession, root, kind)
    if kind != "pq":
        # a compaction that crashed mid-swap parks whole clusters in
        # _compact_old; an append that recreated such a leaf first
        # would make the next recovery discard the parked rows
        recover_index_compaction(data_dir)
    staged_append(
        root, txn,
        lambda stage: _write_index_rows(
            batch, stage, kind, quantizers, id_col, vec_col, files_per_cluster
        ),
        # PQ moves vectors/ before codes/ (see append_to_pq_index); the
        # cluster kinds keep plain path order
        order_key=lambda rel: (not rel.startswith("vectors/"), rel),
    )
    return quantizers


def append_to_ivf_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    txn: str | None = None,
) -> list[list[float]]:
    """Incrementally append a NEW batch to an IVF index written by
    ``write_ivf_index`` — the 100-TB ingest path (VERDICT r10 item 2):
    a corpus arrives batch by batch (ST1's whole point), and rebuilding
    the full index per batch is O(corpus) when the new work is
    O(batch).

    The batch is assigned with the SAVED quantizer
    (``read_ivf_centroids``) — never retrained — under the index's own
    assignment regime (:func:`_assign_regime`, the one probes
    use), so appended rows land in exactly the clusters a
    same-quantizer rebuild would put them in: post-append probe
    results are GATED equal to
    ``write_ivf_index(full_corpus, centroids=saved)`` (test_plans).
    The write is the build's cluster-aligned ``partitionBy("_cluster")``
    (:func:`_write_clusters`): each append adds at most
    ``files_per_cluster`` files per TOUCHED cluster (after A appends a
    cluster holds ≤ (1+A)·files_per_cluster files —
    :func:`compact_index` rewrites just the bloated clusters, no
    quantizer math, probe results unchanged). Duplicate ids are the
    caller's contract, as in any append-only table.

    **Retrain-vs-append drift criterion**: frozen quantizers stay
    EXACT for assignment and pruning, but they were fit on the
    original sample — as the appended distribution drifts, cells skew
    and more vectors land far from their centroid, so a fixed
    ``n_probe`` recalls less. Retrain (full ``write_ivf_index``) when
    (a) appended rows exceed ~30-50% of the rows the quantizer was
    fit over (FAISS guidance), or (b) a held-out probe's recall@k
    drops below target; a cheap online signal is the mean
    nearest-centroid distance of each appended batch creeping above
    its value at build time.

    ``txn``: an idempotency id for at-least-once callers (the
    streaming drains), keying the staged-move ledger every append runs
    (sources/txn.py). Returns the centroids."""
    return _append_to_index(batch, path, id_col, vec_col, files_per_cluster, txn)[0]


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k against an index written by ``write_ivf_index``.

    The union of probed cluster ids is collected (bounded by
    n_clusters — queries are top-k *requests*, inherently small) and
    pushed as a literal ``IN`` filter on the partition column, so the
    parquet scan shows ``PartitionFilters`` on ``_cluster`` and never
    lists the unprobed clusters' files. Scoring is the same broadcast
    exact-cosine rerank as the in-memory path — same inputs, same
    results.

    Above ``_BATCHED_ASSIGN_MIN_K`` centroids the probe ids are computed
    DRIVER-SIDE in numpy over the already-collected query rows: the
    HOF form embeds the full centroid matrix as a plan constant and
    array-sorts k structs per row, which the r10 1M probe measured at
    1.9–5.2 s for 16 queries at k=1000 — pure query-side plan
    overhead on a frame that is driver-bounded by contract anyway.
    Same tie policy ((distance, cluster-id) ascending); agreement with
    the HOF path is pinned on integer-valued vectors where both
    compute bit-exact distances."""
    import numpy as np

    from pyspark.sql import types as T

    centroids = read_ivf_centroids(spark, path)
    if len(centroids) >= _BATCHED_ASSIGN_MIN_K:
        # production-k path: numpy probe over the collected queries —
        # the SAME threshold as the write-side "auto" assignment
        # switch, so a batched-assigned corpus is never probed by the
        # HOF regime (r10 ADVICE: mixed regimes can assign and probe
        # near-tie vectors inconsistently)
        c = np.asarray(centroids, dtype=np.float64)
        rows = []
        for r in queries.select(id_col, vec_col).collect():
            v = r[vec_col]
            if v is None:  # HOF explode drops NULL-vector queries too
                continue
            v64 = np.asarray(v, dtype=np.float64)
            d2 = ((c - v64) ** 2).sum(-1)
            order = np.lexsort((np.arange(len(c)), d2))[:n_probe]
            qn = float(np.sqrt((v64 * v64).sum()))
            rows.extend((r[id_col], v, qn, int(cl)) for cl in order)
        q_schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[id_col].dataType, True),
                T.StructField("qvec", queries.schema[vec_col].dataType, True),
                T.StructField("qn", T.DoubleType(), True),
                T.StructField("_cluster", T.IntegerType(), True),
            ]
        )
        q = spark.createDataFrame(rows, q_schema)
        probed = sorted({r[3] for r in rows})
    else:
        # The probed-query frame is consumed twice (probe-id collect,
        # then scoring) and each evaluation re-derives the per-query
        # centroid-distance fold. It is bounded by construction —
        # queries are top-k REQUESTS (n_queries × n_probe rows), the
        # same driver-side budget as the probe-id collect below — so
        # collect it ONCE and rebuild a local relation: one
        # computation, no persist to leak across a long-lived session
        # (r6 persisted here and never unpersisted).
        q_plan = _probed_queries(queries, centroids, id_col, vec_col, n_probe)
        q_rows = q_plan.collect()
        q = spark.createDataFrame(q_rows, q_plan.schema)
        probed = sorted({r["_cluster"] for r in q_rows})
    assigned = spark.read.parquet(path).filter(F.col("_cluster").isin(probed))
    return _score_probed(assigned, q, k)


# --------------------------------------------------------------------------
# Product quantization (PQ) — FAISS-style compressed ANN
# --------------------------------------------------------------------------


def _l2sq(a, b):
    """Squared L2 between two array columns (no sqrt — PQ sums squared
    sub-distances, and argmin is sqrt-invariant)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _unit(vec_col, norm_col=None):
    """L2-normalize an array column (zero vectors pass through), so
    squared L2 on the outputs is 2·(1 − cosine) and ADC ranking by
    distance equals ranking by cosine. Pass ``norm_col`` when the norm
    already exists as a column (pq_topk's cn/qn) instead of re-deriving
    the O(dim) fold."""
    if norm_col is not None:
        return F.when(norm_col == 0, vec_col.cast("array<double>")).otherwise(
            F.transform(vec_col, lambda x: x / norm_col)
        )
    return VX.let(
        VX.norm(vec_col),
        lambda n: F.when(n == 0, vec_col.cast("array<double>")).otherwise(
            F.transform(vec_col, lambda x: x / n)
        ),
    )


def pq_train(sample, dim: int, m: int = 8, ks: int = 16, seed: int = 42,
             normalize: bool = True):
    """Per-subspace codebooks: split ``dim`` into ``m`` sub-vectors and
    fit a seeded ``ks``-centroid k-means in each subspace on the
    (driver-side, bounded — same discipline as ivf_index) sample of
    L2-NORMALIZED vectors. ``normalize=False`` trains on the sample
    AS GIVEN — required when the sample is already in encode space
    (residual-mode IVF-PQ trains on unit-space residuals whose norms
    are small by construction; re-normalizing them would scale the
    codebook ~1/‖r‖ away from what the encoder actually codes — the
    r11 A/B's first run hit exactly that, recall 0.62 → 0.23).
    Returns ``codebook[m][ks][dim // m]``."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m} sub-quantizers")
    sub = dim // m
    x = np.asarray(sample, dtype=np.float64)
    if x.size == 0:
        # same clear failure as _fit_quantizer (the axis=1 norm below
        # would otherwise throw an opaque shape error first)
        raise ValueError(
            "cannot train a quantizer on an empty corpus sample — "
            "the input frame has no vectors"
        )
    if normalize:
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(norms == 0, 1.0, norms)  # zero rows stay zero
    return [
        _fit_quantizer(x[:, mi * sub : (mi + 1) * sub], ks, seed + mi).tolist()
        for mi in range(m)
    ]


def _pq_codebook_lit(codebook):
    """The full codebook as ONE constant-folded plan literal (same
    from_json trick as _centroid_dists — not m×ks×sub scalar nodes)."""
    import json

    return F.from_json(
        F.lit(json.dumps([[[float(x) for x in c] for c in cs] for cs in codebook])),
        "array<array<array<double>>>",
    )


def _pq_codes(vec_col, codebook, norm_col=None):
    """PQ encode: per subspace, the index of the nearest sub-centroid
    (first index on ties) — ``array<int>`` of length m, a pure-HOF
    narrow map over the constant codebook. The sub-vector slice is
    let-bound so it evaluates once per subspace, not once per centroid
    (Catalyst inlines sub-expressions into HOF lambdas per element —
    see VX.let)."""
    m, sub = len(codebook), len(codebook[0][0])
    cb = _pq_codebook_lit(codebook)

    def body(v):
        def code_for(mi):
            return VX.let(
                F.slice(v, mi * sub + 1, sub),
                lambda sv: VX.let(
                    F.transform(F.element_at(cb, mi + 1), lambda c: _l2sq(sv, c)),
                    lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
                ),
            )

        return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)

    return VX.let(_unit(vec_col, norm_col), body)


def _pq_lut(vec_col, codebook, norm_col=None):
    """Asymmetric-distance lookup table for one query: squared L2 from
    each query sub-vector to every sub-centroid —
    ``array<array<double>>`` of shape m × ks, one narrow map per query
    row. Scoring a corpus code is then m array lookups instead of a
    dim-wide float loop: the PQ speedup. Sub-vector slices are
    let-bound once per subspace (not once per centroid)."""
    sub = len(codebook[0][0])
    cb = _pq_codebook_lit(codebook)

    return VX.let(
        _unit(vec_col, norm_col),
        lambda v: F.transform(
            cb,
            lambda sub_cents, mi: VX.let(
                F.slice(v, mi * sub + 1, sub),
                lambda sv: F.transform(sub_cents, lambda c: _l2sq(sv, c)),
            ),
        ),
    )


def _adc(codes_col, lut_col):
    """ADC distance: Σ_m lut[m][codes[m]] (squared L2 approximation)."""
    return F.aggregate(
        F.zip_with(codes_col, lut_col, lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_adc_candidates(
    c: DataFrame, q: DataFrame, n_cand: int, salts: int | None,
    join_on: str | None = None,
) -> DataFrame:
    """ADC candidate selection: the top ``n_cand`` corpus rows per
    query by asymmetric distance. Returns ONLY (query_id, neighbor_id)
    — by construction no full vector ever enters this subplan: the
    corpus side carries (neighbor_id, codes), i.e. m small ints per
    row, which is PQ's whole compression claim, and the query side
    broadcasts (query_id, lut).

    The per-query top-n_cand is TWO-PHASE when ``salts`` is set (the
    identical salted-window superset argument ``cap_per_key(salts=)``
    proves, operators/curation.py): stage 1 keeps the top n_cand per
    (query_id, content-hash salt bucket) — each global top-n_cand row
    is in its own bucket's top-n_cand under the same total order, so
    nothing is lost — and stage 2's exact window then ranks at most
    n_cand·salts rows per query instead of the FULL corpus. Without
    the salt, every corpus row for a query lands in ONE window task: a
    single-reducer-per-query bottleneck at 100 TB scale.

    ``join_on`` (IVF-PQ): instead of the all-pairs cross join, join the
    corpus side to the query side on that column (e.g. ``_cluster`` —
    one query row per probed cluster), so each query scores ONLY the
    codes inside its probed clusters."""
    if join_on is not None:
        pairs = c.select("neighbor_id", "codes", join_on).join(
            F.broadcast(q.select("query_id", "lut", join_on)), join_on
        )
    else:
        pairs = c.select("neighbor_id", "codes").crossJoin(
            F.broadcast(q.select("query_id", "lut"))
        )
    pairs = (
        pairs.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", _adc(F.col("codes"), F.col("lut")))
        .select("query_id", "neighbor_id", "adc")
    )
    order = [F.asc("adc"), F.asc("neighbor_id")]
    if salts is not None:
        if salts <= 1:
            raise ValueError(f"salts must be > 1, got {salts}")
        # content-hash salt (not random/monotonic): shuffle-retry
        # recomputation re-derives identical buckets — same discipline
        # as cap_per_key
        salt = F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(salts))
        w1 = W.partitionBy(F.col("query_id"), salt).orderBy(*order)
        pairs = (
            pairs.withColumn("_srank", F.row_number().over(w1))
            .filter(F.col("_srank") <= n_cand)
            .drop("_srank")
        )
    wa = W.partitionBy("query_id").orderBy(*order)
    return (
        pairs.withColumn("_arank", F.row_number().over(wa))
        .filter(F.col("_arank") <= n_cand)
        .select("query_id", "neighbor_id")
    )


def pq_codes_batched(
    corpus: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encode as an Arrow-batched numpy matmul — the LARGE-ks
    alternative to the pure-HOF ``_pq_codes`` map, exactly mirroring
    ``assign_clusters_batched``'s rationale for IVF: at the
    FAISS-standard ks=256 the HOF encode (m × ks × sub work through
    generated code per row, plus the compile of an m·ks·sub-constant
    expression) measured 235 s over 1M × 64-d vectors in the r10 PQ
    probe, where this path is dominated by the parquet write. Per
    subspace: ``argmin_j ‖c_j‖² − 2·sv·c_j`` over the (ks × sub)
    sub-codebook via one chunk-friendly f32 sgemm per Arrow batch,
    lowest index on ties — same policy as ``array_position(array_min)``.
    Vectors L2-normalize first (f64 norms, matching ``_unit``); NULL
    vectors are rejected loudly like the HOF path's no-nearest-centroid
    contract. Returns the same (neighbor_id, cvec, cn, codes) frame
    shape as ``_pq_corpus_frames``."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebook, dtype=np.float32)  # m × ks × sub
    m, ks, sub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)  # m × ks

    def encode(batches):
        for pdf in batches:
            if pdf[vec_col].isna().any():
                raise ValueError(
                    "pq_codes_batched: NULL vectors are not encodable — "
                    "filter them out first (the HOF path rejects them "
                    "the same way)"
                )
            vecs = np.stack(pdf[vec_col].map(np.asarray, na_action=None).values).astype(
                np.float64
            )
            norms = np.sqrt((vecs * vecs).sum(axis=1))
            unit = (vecs / np.where(norms == 0, 1.0, norms)[:, None]).astype(np.float32)
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for mi in range(m):
                sv = unit[:, mi * sub : (mi + 1) * sub]
                codes[:, mi] = (cb_sq[mi][None, :] - 2.0 * (sv @ cb[mi].T)).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].values,
                    "cvec": pdf[vec_col].values,
                    "cn": norms,
                    "codes": list(codes),
                }
            )

    from pyspark.sql import types as T

    return corpus.select(id_col, vec_col).mapInPandas(
        encode,
        _typed_struct(
            corpus.schema,
            id_col,
            "neighbor_id",
            vec_col,
            [
                T.StructField("cn", T.DoubleType(), True),
                T.StructField("codes", T.ArrayType(T.IntegerType(), True), True),
            ],
        ),
    )


def _pq_corpus_frames(
    corpus: DataFrame, id_col: str, vec_col: str, codebook
) -> DataFrame:
    """(neighbor_id, cvec, cn, codes) — the encoded corpus frame shared
    by the in-memory and at-rest PQ paths. Routes through the
    Arrow-batched encode at production sub-codebook sizes (same
    threshold as the IVF Lloyd/probe split); gate-scale codebooks
    (ks ≤ 64) keep the pure-JVM HOF encode."""
    if len(codebook[0]) >= _LLOYD_MATMUL_MIN_K:
        return pq_codes_batched(corpus, codebook, id_col, vec_col)
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cn"),
    ).withColumn("codes", _pq_codes(F.col("cvec"), codebook, norm_col=F.col("cn")))


def _pq_query_frame(queries: DataFrame, id_col: str, vec_col: str, codebook) -> DataFrame:
    """(query_id, qvec, qn, lut) — the broadcast query side."""
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        VX.norm(F.col(vec_col)).alias("qn"),
    ).withColumn("lut", _pq_lut(F.col("qvec"), codebook, norm_col=F.col("qn")))


def _pq_query_frame_driver(
    spark, queries: DataFrame, id_col: str, vec_col: str, codebook
) -> DataFrame:
    """Driver-side twin of ``_pq_query_frame`` for production codebook
    sizes: the HOF LUT embeds the m × ks × sub codebook as a plan
    constant whose generated code compiles once per session — at
    ks=256 that compile dominated the r10 PQ probe's first run (62.5 s
    vs 15.8 s warm). Queries are top-k REQUESTS, driver-bounded by the
    same contract as the candidate collect, so compute the LUT in
    numpy over the collected rows (exact f64 squared L2, same values
    as the HOF fold up to summation order; NULL-vector queries drop,
    matching the HOF explode)."""
    import numpy as np

    from pyspark.sql import types as T

    cb = np.asarray(codebook, dtype=np.float64)  # m × ks × sub
    m, ks, sub = cb.shape
    rows = []
    for r in queries.select(id_col, vec_col).collect():
        v = r[vec_col]
        if v is None:
            continue
        v64 = np.asarray(v, dtype=np.float64)
        qn = float(np.sqrt((v64 * v64).sum()))
        unit = v64 / (qn if qn != 0 else 1.0)
        lut = [
            ((cb[mi] - unit[mi * sub : (mi + 1) * sub]) ** 2).sum(-1).tolist()
            for mi in range(m)
        ]
        rows.append((r[id_col], v, qn, lut))
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType, True),
            T.StructField("qvec", queries.schema[vec_col].dataType, True),
            T.StructField("qn", T.DoubleType(), True),
            T.StructField(
                "lut", T.ArrayType(T.ArrayType(T.DoubleType(), True), True), True
            ),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _pq_train_validated(
    corpus: DataFrame, vec_col: str, dim: int, m: int, ks: int, seed: int,
    train_sample: int,
):
    sample = _driver_sample(corpus, vec_col, train_sample, seed)
    if sample and len(sample[0]) != dim:
        # a mismatched dim would make F.slice/zip_with silently produce
        # short or NULL sub-distances (wrong codes/rankings, no error)
        raise ValueError(
            f"dim={dim} does not match the embedding length {len(sample[0])}"
        )
    return pq_train(sample, dim=dim, m=m, ks=ks, seed=seed)


def write_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    train_sample: int = 65536,
    codebook=None,
):
    """Materialize the PQ index AT REST — the shape that makes PQ's
    compression claim real on disk, not just in a shuffle:

    - ``{path}/codes``: (neighbor_id, codes) — m small ints per vector.
      At 100 TB THIS is what every query scans: m bytes/vector instead
      of the raw embeddings (32× smaller at dim=64 float vs m=8).
    - ``{path}/vectors``: (neighbor_id, cvec, cn) sorted by id within
      partitions, so the exact-rerank fetch of k·refine ids per query
      skips row groups via min/max statistics on the pushed IN filter.
    - ``{path}/_codebook``: the m×ks×(dim/m) codebook as one JSON row
      (underscore-prefixed like ``_centroids`` so discovery skips it).

    ``codebook``: pass a saved codebook (``read_pq_codebook``) to
    REBUILD without retraining — the full-rewrite path for an index
    grown by ``append_to_pq_index`` (``dim``/``m``/``ks``/``seed``/
    ``train_sample`` are then ignored); :func:`compact_index` compacts
    the two tables in place without re-encoding anything.

    Returns the codebook (also persisted)."""
    import json

    if codebook is None:
        codebook = _pq_train_validated(corpus, vec_col, dim, m, ks, seed, train_sample)
    _write_pq_tables(_pq_corpus_frames(corpus, id_col, vec_col, codebook), path)
    corpus.sparkSession.createDataFrame(
        [(json.dumps([[[float(x) for x in cc] for cc in cs] for cs in codebook]),)],
        "codebook_json string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/_codebook")
    return codebook


def _write_pq_tables(c: DataFrame, out: str) -> None:
    """PQ's two-table writer — build and append both call it: the
    id-sorted ``vectors`` table, then ``codes`` (the order
    :func:`append_to_pq_index` explains)."""
    (
        c.select("neighbor_id", "cvec", "cn")
        .sortWithinPartitions("neighbor_id")
        .write.mode("overwrite")
        .parquet(f"{out}/vectors")
    )
    c.select("neighbor_id", "codes").write.mode("overwrite").parquet(f"{out}/codes")


def append_to_pq_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: str | None = None,
):
    """Incrementally append a NEW batch to a PQ index written by
    ``write_pq_index`` — completes the append family (IVF and IVF-PQ
    have the same shape): the batch encodes under the SAVED codebook
    (``read_pq_codebook``, never retrained) and appends to both the
    codes and vectors tables. Post-append probe results are gated
    equal to ``write_pq_index(full_corpus, codebook=saved)``
    (test_plans parity). Work is O(batch).

    Retrain-vs-append drift criterion: as ``append_to_ivf_index``,
    minus the assignment-skew surface (no coarse quantizer here) —
    only ADC error grows on out-of-distribution appends.

    Move order is VECTORS first, deliberately: a failure between the
    two tables' moves then leaves vectors rows with no codes —
    invisible to probes (the ADC pass drives candidate selection off
    ``codes``) and repaired by re-running the append. The reverse
    order would leave codes rows whose ids are absent from
    ``vectors``, and those ADC candidates silently vanish at the
    rerank fetch while still crowding real candidates out of the
    k·refine budget. ``txn`` keys the staged-move ledger as in
    ``append_to_ivf_index``. Returns the codebook as read from the
    index."""
    return _append_to_index(batch, path, id_col, vec_col, 1, txn)[1]


def read_pq_codebook(spark, path: str):
    """Codebook persisted by ``write_pq_index`` (one tiny JSON row — a
    driver-side read by design, like the quantizer sample)."""
    return _read_codebook(spark, path)[0]


def _read_codebook(spark, path: str) -> tuple:
    """(codebook, encode mode) from ONE read of ``{path}/_codebook``;
    the mode is 'direct' for PQ and pre-r11 IVF-PQ indexes, which
    carry no mode field."""
    import json

    row = spark.read.json(f"{path}/_codebook").collect()[0]
    encode = row["encode"] if "encode" in row.__fields__ else "direct"
    return json.loads(row.codebook_json), encode


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 4,
    salts: int | None = 8,
) -> DataFrame:
    """PQ top-k against an index written by ``write_pq_index``.

    The candidate pass scans ONLY the codes table (ReadSchema is
    (neighbor_id, codes) — the raw embeddings never enter it), ranks by
    ADC through the same salted two-phase top-k as the in-memory path,
    then the k·refine surviving ids per query are collected (bounded:
    k·refine·n_queries rows — queries are top-k *requests*, inherently
    small) and pushed as an ``IN`` filter into the vectors scan, so the
    exact-cosine rerank reads row groups containing only those ids.
    Same codebook + seed as ``pq_topk`` ⇒ identical results, tested."""
    codebook = read_pq_codebook(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    if len(codebook[0]) >= _LLOYD_MATMUL_MIN_K:
        q = _pq_query_frame_driver(spark, queries, id_col, vec_col, codebook)
    else:
        q = _pq_query_frame(queries, id_col, vec_col, codebook)
    n_cand = k * refine
    cand_rows = _pq_adc_candidates(codes, q, n_cand=n_cand, salts=salts).collect()
    return _indexed_rerank(
        spark, spark.read.parquet(f"{path}/vectors"), cand_rows, q, k
    )


def _indexed_rerank(spark, vectors: DataFrame, cand_rows, q: DataFrame, k: int) -> DataFrame:
    """Exact-cosine rerank against an at-rest vectors frame (id-sorted
    within files): the collected (query_id, neighbor_id) candidates
    (bounded: k·refine·n_queries) push an ``IN`` filter into the scan,
    so row-group min/max statistics skip everything but the candidate
    rows. ``q`` may carry multiple rows per query (the IVF-PQ probe
    frame has one per probed cluster) — the rerank side dedupes to one
    (query_id, qvec, qn) row.

    The IN-literal is capped: past ``_RERANK_IN_MAX`` ids the literal
    stops pruning (candidates spread across every row group, so the
    scan reads them all anyway) while its per-row evaluation and plan
    size keep growing — the r10 1M IVF-PQ probe spent most of a 20 s
    warm probe evaluating a 25,600-term IN. Above the cap only the
    min/max range pushes (one comparison, still skips row groups when
    candidates are localized) and the broadcast candidate join — which
    runs in BOTH regimes and alone guarantees exactness — does the
    selection.

    Sizing guidance: the candidate count is k·refine·n_queries. Below
    the cap the IN prunes row groups wherever the ids land; above it,
    the range filter prunes only when candidates are LOCALIZED in id
    space (clustered writes, monotone ids) — candidates spread across
    the full id range make it a no-op and the rerank scans every
    probed row group (correct, just unpruned). If that regime is the
    norm for a workload, lower k·refine per probe or shard the query
    batch so each call stays under ``_RERANK_IN_MAX`` ids."""
    from pyspark.sql import types as T

    # carry the id types through from the query/vectors frames — the
    # API's id_col is type-parameterized end to end, so a string or
    # int id must not die at a hardcoded `long` literal schema here
    # (r10 ADVICE item 3)
    cand = spark.createDataFrame(
        cand_rows,
        T.StructType(
            [
                T.StructField("query_id", q.schema["query_id"].dataType, True),
                T.StructField(
                    "neighbor_id", vectors.schema["neighbor_id"].dataType, True
                ),
            ]
        ),
    )
    ids = sorted({r.neighbor_id for r in cand_rows})
    if ids:
        if len(ids) <= _RERANK_IN_MAX:
            vectors = vectors.filter(F.col("neighbor_id").isin(ids))
        else:
            vectors = vectors.filter(
                F.col("neighbor_id").between(ids[0], ids[-1])
            )
    rerank = (
        vectors.join(F.broadcast(cand), "neighbor_id")
        .join(
            F.broadcast(
                q.select("query_id", "qvec", "qn").dropDuplicates(["query_id"])
            ),
            "query_id",
        )
        .withColumn(
            "cos",
            F.round(
                VX.cosine_with_norms(
                    F.col("cvec"), F.col("qvec"), F.col("cn"), F.col("qn")
                ),
                6,
            ),
        )
    )
    return _topk_by_cos(rerank, k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    refine: int = 4,
    seed: int = 42,
    train_sample: int = 65536,
    salts: int | None = 8,
) -> DataFrame:
    """PQ approximate top-k with exact refinement (FAISS IVF-PQ's
    refine stage): corpus vectors compress to m sub-centroid codes
    (m bytes/vector at ks ≤ 256 — 32× smaller than 64 floats), queries
    broadcast with a per-query ADC lookup table, candidates rank by
    ADC in O(m) per pair via a salted two-phase top-k (see
    ``_pq_adc_candidates``), and the surviving ``k·refine`` ids per
    query re-join their FULL vectors for the exact-cosine rerank.

    At 100 TB the codes table IS the index: the candidate pass scans
    and shuffles m bytes/vector instead of the raw embeddings (the
    full vector never enters the ADC subplan), no window task ever
    ranks more than n_cand·salts rows, and the vector fetch for the
    rerank is a broadcast semi-join touching only k·refine rows per
    query. ``salts=None`` disables stage 1 (single exact window) —
    results are identical either way, property-tested."""
    codebook = _pq_train_validated(corpus, vec_col, dim, m, ks, seed, train_sample)

    # two-step selects so encode/LUT reuse the cn/qn norm columns
    # (codegen CSE then computes the O(dim) norm fold once per row)
    c = _pq_corpus_frames(corpus, id_col, vec_col, codebook)
    q = _pq_query_frame(queries, id_col, vec_col, codebook)

    cand = _pq_adc_candidates(c, q, n_cand=k * refine, salts=salts)
    rerank = (
        # candidates are k·refine per query — tiny, so they broadcast
        # against the corpus for the vector fetch (column pruning drops
        # the codes computation from this scan)
        c.select("neighbor_id", "cvec", "cn")
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qvec", "qn")), "query_id")
        .withColumn(
            "cos",
            F.round(
                VX.cosine_with_norms(
                    F.col("cvec"), F.col("qvec"), F.col("cn"), F.col("qn")
                ),
                6,
            ),
        )
    )
    return _topk_by_cos(rerank, k)


# --------------------------------------------------------------------------
# IVF-PQ — coarse partition pruning + compressed in-cluster ranking
# --------------------------------------------------------------------------


def _sample_drift_baseline(sample, centroids) -> dict:
    """Nearest-centroid distance distribution of the TRAINING sample —
    persisted with the index so ``assign_drift_stats`` on later
    appended batches has a committed anchor to compare against
    (driver-side numpy; the sample is bounded by contract)."""
    import numpy as np

    v = np.asarray(sample, dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    d2 = (v * v).sum(axis=1)[:, None] + (c * c).sum(axis=1)[None, :] - 2.0 * (v @ c.T)
    d = np.sqrt(np.maximum(d2.min(axis=1), 0.0))
    return {
        "n_vectors": int(len(d)),
        "mean_dist": float(d.mean()),
        "p95_dist": float(np.percentile(d, 95)),
        "max_dist": float(d.max()),
    }


def _write_centroids_meta(spark, path: str, centroids, drift: dict | None) -> None:
    import json

    cents = [[float(x) for x in c] for c in centroids]
    spark.createDataFrame(
        [(json.dumps(cents), json.dumps(drift) if drift is not None else None)],
        "centroids_json string, drift_json string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/_centroids")


def read_drift_baseline(spark, path: str) -> dict | None:
    """The build-time drift baseline persisted by write_ivf_index /
    write_ivfpq_index (None for pre-r11 indexes or no-retrain
    rebuilds, whose metadata carries no baseline)."""
    import json

    row = spark.read.json(f"{path}/_centroids").collect()[0]
    if "drift_json" not in row.__fields__ or row["drift_json"] is None:
        return None
    return json.loads(row["drift_json"])


def _index_layout(path: str) -> tuple[str, str, str]:
    """(kind, data dir, data-file glob) of the at-rest ANN index at
    ``path`` — the one place the kind is derived. Layout sniffing goes
    through the Hadoop FileSystem API, so a pure-IVF or pure-PQ index
    is classified the same on ``file://``, ``hdfs://`` and ``s3a://``
    (the r11-advice trap: assuming both sidecars exist whenever the
    path isn't local misread every object-store index as ivfpq). IVF
    keeps its cluster dirs at the root and IVF-PQ under ``data/``; a
    flat PQ index (no ``_centroids``) has its rows in ``codes`` (the
    table probes scan) and its files in ``codes`` and ``vectors``."""
    root = path.rstrip("/")
    if not FS.is_dir(f"{root}/_centroids"):
        return "pq", f"{root}/codes", f"{root}/{{codes,vectors}}/*.parquet"
    if FS.is_dir(f"{root}/_codebook"):
        kind, data_dir = "ivfpq", f"{root}/data"
    else:
        kind, data_dir = "ivf", root
    return kind, data_dir, f"{data_dir}/_cluster=*/*.parquet"


def _read_quantizers(spark, path: str, kind: str) -> tuple:
    """(centroids, codebook, encode mode) as the index persisted them,
    one sidecar read each — None where ``kind`` has no such part."""
    centroids = read_ivf_centroids(spark, path) if kind != "pq" else None
    codebook, encode = _read_codebook(spark, path) if kind != "ivf" else (None, None)
    return centroids, codebook, encode


def describe_index(spark, path: str) -> dict:
    """Operational introspection for an at-rest ANN index — what an
    operator checks before deciding append vs retrain: kind (ivf /
    ivfpq / pq by layout), quantizer shape, the persisted encode mode
    and drift baseline, and row/file counts from the data table
    (one count + one listing; no vector bytes read)."""
    kind, data_dir, file_glob = _index_layout(path)
    meta: dict = {"path": path, "kind": kind}
    centroids, codebook, encode = _read_quantizers(spark, path, kind)
    if centroids is not None:
        meta.update(
            n_clusters=len(centroids),
            dim=len(centroids[0]),
            drift_baseline=read_drift_baseline(spark, path),
        )
    if codebook is not None:
        meta.update(
            m=len(codebook), ks=len(codebook[0]),
            sub_dim=len(codebook[0][0]),
        )
    if kind == "ivfpq":
        meta["encode"] = encode
    meta["n_rows"] = spark.read.parquet(data_dir).select("neighbor_id").count()
    meta["n_files"] = FS.count_glob(file_glob)
    return meta


def recover_index_compaction(data_dir: str) -> str | None:
    """Repair leftovers from a :func:`compact_index` that crashed
    mid-swap (same state machine as ``sources.compact
    .recover_compaction``, but for cluster-partitioned index tables
    whose swap staging lives in sibling ``_compact_tmp`` /
    ``_compact_old`` roots — staging can NOT use the leaf-adjacent
    ``_cluster=3_compact_tmp`` naming, because a name containing ``=``
    is partition-discovered and a crashed run would surface a bogus
    partition to every later probe).

    - a cluster dir present in ``_compact_old`` but missing from the
      table crashed between the two renames → restore it;
    - everything else in ``_compact_old`` / ``_compact_tmp`` is
      discarded (re-running the compaction is idempotent).

    All file ops through the Hadoop FileSystem API (``fsutil``) —
    file/hdfs/s3a alike. Returns a short description of the repair
    (or None)."""
    tmp_root = f"{data_dir}/_compact_tmp"
    old_root = f"{data_dir}/_compact_old"
    action = None
    if FS.is_dir(old_root):
        restored = 0
        for d, is_dir in FS.list_entries(old_root):
            leaf = f"{data_dir}/{d}"
            if is_dir and d.startswith("_cluster=") and not FS.exists(leaf):
                FS.rename(f"{old_root}/{d}", leaf)
                restored += 1
        FS.delete(old_root)
        action = f"restored_{restored}_clusters" if restored else "removed_old"
    if FS.is_dir(tmp_root):
        FS.delete(tmp_root)
        action = (action + "+removed_tmp") if action else "removed_tmp"
    return action


# IN-literal partition filters stay bounded (the r10 rerank lesson:
# a 25k-term IN literal dominated a 1M probe); compaction just loops
# waves instead of falling back, since each wave is independent.
_COMPACT_WAVE = 2048


def compact_index(
    spark,
    path: str,
    files_per_cluster: int = 1,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact an at-rest ANN index grown by the ``append_to_*``
    family WITHOUT rebuilding it — the piece that makes append-only
    maintenance sustainable: after A appends a cluster holds up to
    (1+A)·files_per_cluster files, and at 100 TB a full rebuild
    (re-assign + re-encode every vector) to fix a *layout* problem is
    not an option. This rewrites ONLY the bloated cluster partitions
    — work is O(bloated bytes), zero quantizer math, and probe results
    are unchanged (gated in tests and in the IO bench's self-check).

    Kind-aware via the same layout sniffing as :func:`describe_index`:

    - **ivf** / **ivfpq**: clusters with more than ``files_per_cluster``
      data files are re-read (partition-pruned IN filter on
      ``_cluster``, ≤ ``_COMPACT_WAVE`` clusters per job), rewritten
      cluster-aligned (ivfpq re-sorted on ``neighbor_id`` to keep the
      rerank's row-group skipping), staged under
      ``{data}/_compact_tmp`` (underscore, no ``=`` — invisible to
      partition discovery), then swapped in with per-cluster renames
      (crash states repaired by :func:`recover_index_compaction`).
    - **pq**: the ``codes`` and ``vectors`` tables are plain
      directories — ``codes`` compacts round-robin to ``target_bytes``
      files, ``vectors`` range-partitioned + re-sorted on
      ``neighbor_id`` (tightening the min/max stats the rerank fetch
      skips row groups with).

    All file ops route through the Hadoop FileSystem API
    (``sources.fsutil``) — one implementation for file/hdfs/s3a. On a
    store without atomic rename the per-cluster swap degrades to a
    server-side copy; every intermediate state stays invisible
    (``_compact_tmp``/``_compact_old`` roots contain no ``=``) or
    recoverable (:func:`recover_index_compaction`). Returns
    before/after stats."""
    from ..sources.compact import compact_dir

    kind, data_dir, file_glob = _index_layout(path)
    if kind == "pq":
        codes = compact_dir(spark, f"{path}/codes", target_bytes=target_bytes)
        vecs = compact_dir(
            spark,
            f"{path}/vectors",
            target_bytes=target_bytes,
            sort_col="neighbor_id",
        )
        return {
            "kind": "pq",
            "files_before": codes["files"] + vecs["files"],
            "files_after": codes["files_after"] + vecs["files_after"],
            "compacted": codes["compacted"] + vecs["compacted"],
        }

    recover_index_compaction(data_dir)

    # ONE listing over the data-file glob (not dir_stats: the ivf table
    # root also holds the _centroids sidecar, whose inner json files
    # would skew the count)
    counts = {
        int(d.split("=", 1)[1]): n for d, n in FS.files_per_dir(file_glob).items()
    }
    files_before = sum(counts.values())
    bloated = sorted(c for c, n in counts.items() if n > files_per_cluster)
    stats = {
        "kind": kind,
        "clusters_total": len(counts),
        "clusters_compacted": len(bloated),
        "files_before": files_before,
    }
    if not bloated:
        return {**stats, "files_after": files_before, "compacted": 0}

    tmp_root = f"{data_dir}/_compact_tmp"
    old_root = f"{data_dir}/_compact_old"
    for wave_at in range(0, len(bloated), _COMPACT_WAVE):
        wave = bloated[wave_at : wave_at + _COMPACT_WAVE]
        _write_clusters(
            spark.read.parquet(data_dir).filter(F.col("_cluster").isin(wave)),
            tmp_root, files_per_cluster,
        )
        FS.mkdirs(old_root)
        for c in wave:
            leaf = f"{data_dir}/_cluster={c}"
            FS.rename(leaf, f"{old_root}/_cluster={c}")
            FS.rename(f"{tmp_root}/_cluster={c}", leaf)
        FS.delete(old_root)
        FS.delete(tmp_root)
    return {
        **stats,
        "files_after": FS.count_glob(file_glob),
        "compacted": len(bloated),
    }


def maintain_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    compact_trigger: float = 3.0,
    retrain_drift_ratio: float = 1.5,
    retrain: str = "auto",
    train_sample: int = 65536,
    seed: int = 42,
    txn: str | None = None,
) -> dict:
    """One ingest round of index operations, as ONE call — the policy
    loop the individual pieces exist for, for ALL THREE at-rest index
    kinds (layout-sniffed like :func:`describe_index`):

    1. measure the batch's drift under the SAVED coarse quantizer
       (``assign_drift_stats`` vs the build-time baseline the index
       persists) — ivf/ivfpq only; a PQ index has no coarse quantizer,
       so its ``drift_ratio`` is None and it never auto-retrains
       (matching its documented drift surface: only ADC error grows);
    2. if ``retrain="auto"`` and the batch's mean nearest-centroid
       distance exceeds ``retrain_drift_ratio`` x the baseline — the
       docstring criterion, now enforced — RETRAIN: fresh quantizers
       are fit over the index's own rows plus the batch (every kind
       stores the raw vectors, so no side copy of the corpus is
       needed; ivfpq re-fits both quantizers and keeps its persisted
       encode mode), written to a staging sibling and atomically
       swapped in (``sources.compact.recover_compaction``'s tmp/old
       state machine repairs a mid-swap crash on the next call);
    3. otherwise APPEND under the saved quantizers (the
       ``append_to_*_index`` family), then restore the file bound with
       :func:`compact_index` (probe-identical) when the worst cluster
       exceeds ``compact_trigger x files_per_cluster`` files (PQ: when
       either plain table exceeds ``compact_trigger`` files).

    A no-baseline index (pre-r11 layout or no-retrain rebuild) can't
    compute the ratio, so it never auto-retrains — surfaced as
    ``drift_ratio: None``. All file ops route through the Hadoop
    FileSystem API (``fsutil``) — file/hdfs/s3a alike.

    ``txn``: an idempotency id for at-least-once callers (the
    streaming drains). A round whose id already committed returns
    ``{"action": "skipped_replay"}`` untouched; an APPEND round runs
    the staged-move protocol (the append's marker IS the round's
    marker — a replay that crashed after the append but before the
    stream checkpoint commit re-runs to the identical index, never a
    duplicated batch; a compaction skipped by such a replay simply
    triggers again next round); a RETRAIN round plants its marker
    inside the staged rebuild, so the swap's rename publishes index
    and marker together.

    Returns the round's report: {kind, action, n_batch, drift_mean,
    baseline_mean, drift_ratio, compacted, files_after}."""
    from ..sources.compact import _staging_paths, recover_compaction

    if retrain not in ("auto", "never"):
        raise ValueError(f"retrain must be 'auto' or 'never', got {retrain!r}")
    root = path.rstrip("/")
    # recovery BEFORE the replay check: a retrain that crashed after
    # its swap but before cleanup leaves the committed marker in root
    # AND the old index in staging — the cleanup must still happen
    recover_compaction(root)
    if txn is not None and txn_committed(root, txn):
        return {"action": "skipped_replay", "txn": txn}

    kind, data_dir, file_glob = _index_layout(root)
    has_centroids = kind != "pq"
    centroids = read_ivf_centroids(spark, path) if has_centroids else None
    baseline = read_drift_baseline(spark, path) if has_centroids else None
    if centroids is not None:
        drift = assign_drift_stats(batch, centroids, vec_col=vec_col).first()
        n_batch, drift_mean = drift["n_vectors"], drift["mean_dist"]
    else:
        n_batch, drift_mean = batch.count(), None
    ratio = (
        float(drift_mean) / float(baseline["mean_dist"])
        if drift_mean is not None and baseline and baseline.get("mean_dist")
        else None
    )
    report = {
        "kind": kind,
        "n_batch": n_batch,
        "drift_mean": drift_mean,
        "baseline_mean": baseline["mean_dist"] if baseline else None,
        "drift_ratio": round(ratio, 4) if ratio is not None else None,
        "compacted": 0,
    }

    if retrain == "auto" and ratio is not None and ratio > retrain_drift_ratio:
        corpus = (
            spark.read.parquet(data_dir)
            .select(F.col("neighbor_id").alias(id_col), F.col("cvec").alias(vec_col))
            .unionByName(batch.select(F.col(id_col), F.col(vec_col)))
        )
        tmp, old = _staging_paths(root)
        if kind == "ivfpq":
            codebook, encode = _read_codebook(spark, path)
            write_ivfpq_index(
                corpus, tmp, id_col=id_col, vec_col=vec_col,
                n_clusters=len(centroids), m=len(codebook), ks=len(codebook[0]),
                seed=seed, train_sample=train_sample,
                files_per_cluster=files_per_cluster, encode=encode,
            )
        else:
            write_ivf_index(
                corpus, tmp, id_col=id_col, vec_col=vec_col,
                n_clusters=len(centroids), seed=seed, train_sample=train_sample,
                files_per_cluster=files_per_cluster,
            )
        if txn is not None:
            # marker rides the staged rebuild: the swap's rename
            # publishes the retrained index and its commit atomically
            import json as _json

            FS.write_text(
                _txn_paths(tmp, txn)[0], _json.dumps({"txn": txn, "action": "retrained"})
            )
        FS.rename(root, old)
        FS.rename(tmp, root)
        FS.delete(old)
        report["action"] = "retrained"
    else:
        _append_to_index(batch, path, id_col, vec_col, files_per_cluster, txn)
        report["action"] = "appended"
        # the trigger the semantic ingest round shares; PQ's plain
        # tables compact to target bytes, so their bound is per table
        report["compacted"] = _maybe_compact_index(
            spark, root, file_glob, files_per_cluster,
            compact_trigger * (files_per_cluster if kind != "pq" else 1),
        )
    report["files_after"] = FS.count_glob(file_glob)
    return report


def _unit_centroids(centroids):
    """Centroid matrix L2-normalized row-wise (f32) — the anchor the
    residual encode subtracts in unit space (cosine ranking happens
    between unit vectors, so residuals must live there too)."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    n = np.sqrt((c * c).sum(axis=1))
    return (c / np.where(n == 0, 1.0, n)[:, None]).astype(np.float32)


def assign_and_encode_batched(
    corpus: DataFrame,
    centroids,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode: str = "direct",
) -> DataFrame:
    """One Arrow-batched pass computing BOTH the IVF cluster assignment
    and the PQ codes — the production encode for ``write_ivfpq_index``
    (running ``assign_clusters_batched`` and ``pq_codes_batched``
    separately would read and materialize the corpus twice). Cluster
    argmin follows ``assign_clusters_batched`` exactly (f64 matmul on
    the RAW vector, lowest index on ties); ``encode="direct"`` codes
    follow ``pq_codes_batched`` exactly (f32 sgemm per subspace on the
    L2-NORMALIZED vector); ``encode="residual"`` codes the FAISS
    IVFADC residual r = unit(v) − unit(c_assigned) instead — the
    codebook then spends its ks levels on the (much smaller) spread
    WITHIN a cell rather than on absolute position (r11 A/B,
    COVERAGE.md). Returns (neighbor_id, cvec, cn, _cluster, codes)."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype=np.float64)  # k × d
    c_sq = (c * c).sum(axis=1)
    cu = _unit_centroids(centroids) if encode == "residual" else None
    cb = np.asarray(codebook, dtype=np.float32)  # m × ks × sub
    m, ks, sub = cb.shape
    cb_sq = (cb * cb).sum(axis=2)

    def body(batches):
        for pdf in batches:
            if pdf[vec_col].isna().any():
                raise ValueError(
                    "assign_and_encode_batched: NULL vectors are not "
                    "assignable/encodable — filter them out first"
                )
            vecs = np.stack(pdf[vec_col].map(np.asarray, na_action=None).values).astype(
                np.float64
            )
            dists = c_sq[None, :] - 2.0 * (vecs @ c.T)
            cl = dists.argmin(axis=1).astype("int32")
            norms = np.sqrt((vecs * vecs).sum(axis=1))
            unit = (vecs / np.where(norms == 0, 1.0, norms)[:, None]).astype(np.float32)
            enc_vecs = unit - cu[cl] if cu is not None else unit
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for mi in range(m):
                sv = enc_vecs[:, mi * sub : (mi + 1) * sub]
                codes[:, mi] = (cb_sq[mi][None, :] - 2.0 * (sv @ cb[mi].T)).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].values,
                    "cvec": pdf[vec_col].values,
                    "cn": norms,
                    "_cluster": cl,
                    "codes": list(codes),
                }
            )

    from pyspark.sql import types as T

    return corpus.select(id_col, vec_col).mapInPandas(
        body,
        _typed_struct(
            corpus.schema,
            id_col,
            "neighbor_id",
            vec_col,
            [
                T.StructField("cn", T.DoubleType(), True),
                T.StructField("_cluster", T.IntegerType(), True),
                T.StructField("codes", T.ArrayType(T.IntegerType(), True), True),
            ],
        ),
    )


def _ivfpq_encoded(
    corpus: DataFrame,
    centroids,
    codebook,
    id_col: str,
    vec_col: str,
    assignment: str,
    encode: str = "direct",
) -> DataFrame:
    """(neighbor_id, cvec, cn, _cluster, codes) under GIVEN quantizers
    — the encode pass shared by index build and incremental append.
    ``"auto"`` routes through :func:`assign_and_encode_batched` above
    the shared thresholds; gate-scale indexes keep the pure-JVM HOF
    maps. ``encode="residual"`` always runs batched (the residual
    subtraction is numpy arithmetic; a HOF form would embed the full
    centroid matrix twice)."""
    if encode == "residual" or assignment == "auto":
        assignment = _assign_regime(centroids, codebook, encode)
    if assignment == "batched":
        return assign_and_encode_batched(
            corpus, centroids, codebook, id_col, vec_col, encode=encode
        )
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        VX.norm(F.col(vec_col)).alias("cn"),
        _nearest_centroid(F.col(vec_col), centroids).alias("_cluster"),
    ).withColumn("codes", _pq_codes(F.col("cvec"), codebook, norm_col=F.col("cn")))


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    train_sample: int = 65536,
    assignment: str = "auto",
    files_per_cluster: int = 1,
    quantizers=None,
    encode: str = "auto",
):
    """FAISS-style IVF-PQ index AT REST — the composition the two
    standalone indexes each lack half of (the r10 1M probes: IVF prunes
    BETWEEN clusters but stores full vectors in the lists; PQ-alone
    compresses but must ADC-scan the WHOLE corpus per query):

    - ``{path}/data``: ONE parquet table (neighbor_id, cvec, cn, codes)
      ``partitionBy(_cluster)``, cluster-aligned like
      ``write_ivf_index`` (at most ``files_per_cluster`` files per
      cluster directory), id-sorted within files. Parquet is columnar,
      so the single table serves both probe phases with no redundancy:
      the ADC candidate scan prunes COLUMNS to (neighbor_id, codes) —
      m small ints per row, no vector bytes — while the exact rerank
      prunes PARTITIONS to the probed clusters and row-groups to the
      candidate ids. (The PQ-alone index needs two tables because it
      has no partition column; here a split layout would leave the
      rerank scanning every cluster — the r10 1M probe measured that
      full vector scan as the dominant probe cost.)
    - ``{path}/_centroids`` / ``{path}/_codebook``: the two quantizers,
      readable by ``read_ivf_centroids`` / ``read_pq_codebook``.

    Both quantizers train on ONE bounded driver sample.
    ``encode="direct"`` codes the L2-normalized vector (parity with
    the PQ-alone semantics); ``encode="residual"`` codes the FAISS
    IVFADC residual r = unit(v) − unit(c_assigned), with the codebook
    trained on sample residuals (normalize=False — they are already in
    encode space) — ks levels spent on the spread WITHIN a cell
    instead of absolute position. The r11 1M A/B (COVERAGE.md)
    measured recall@100 0.618 (direct) vs 0.996 (residual) at equal
    m/ks and equal probe cost, so ``"auto"`` (default) picks residual
    at production cluster counts (>= ``_BATCHED_ASSIGN_MIN_K``) and
    keeps direct at gate scale (byte-stable small indexes; the exact
    rerank is identical either way). The resolved mode persists in
    ``{path}/_codebook`` so probes and appends can never mix regimes.
    ``assignment="auto"`` routes the corpus pass through
    :func:`assign_and_encode_batched` above 32 clusters or at
    production sub-codebook sizes; gate-scale indexes keep the
    pure-JVM HOF maps (residual mode always runs batched).

    Parity: the reference has no ANN surface — this extends the
    LLM-pipeline operator family (brief: similarity search at 100 TB).

    ``quantizers``: pass a saved ``(centroids, codebook)`` pair to
    REBUILD without retraining (``n_clusters``/``m``/``ks``/``seed``/
    ``train_sample`` are then ignored) — the compaction path for an
    index grown by ``append_to_ivfpq_index``. A saved codebook is
    bound to the mode it was trained under: pass
    ``encode=read_ivfpq_encode_mode(...)`` alongside it if the
    original write overrode the ``"auto"`` resolution (``"auto"``
    re-resolves identically from the same cluster count, so
    default-built indexes rebuild consistently without it).

    Returns (centroids, codebook)."""
    import json

    if encode not in ("auto", "direct", "residual"):
        raise ValueError(
            f"encode must be 'auto', 'direct' or 'residual', got {encode!r}"
        )
    drift = None
    if quantizers is not None:
        centroids, codebook = quantizers
        n_clusters, ks = len(centroids), len(codebook[0])
    if encode == "auto":
        # the r11 1M A/B's winner at production sizes; direct at gate
        # scale keeps small indexes byte-stable (COVERAGE.md probe)
        encode = "residual" if n_clusters >= _BATCHED_ASSIGN_MIN_K else "direct"
    if quantizers is None:
        sample = _driver_sample(corpus, vec_col, train_sample, seed)
        if not sample:
            raise ValueError(
                "cannot train a quantizer on an empty corpus sample — "
                "the input frame has no vectors"
            )
        dim = len(sample[0])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m {m} sub-quantizers")
        centroids = _fit_quantizer(sample, n_clusters, seed)
        drift = _sample_drift_baseline(sample, centroids)
        if encode == "residual":
            # residuals are ALREADY in encode space — train as given
            codebook = pq_train(
                _residual_sample(sample, centroids),
                dim=dim, m=m, ks=ks, seed=seed, normalize=False,
            )
        else:
            codebook = pq_train(sample, dim=dim, m=m, ks=ks, seed=seed)

    _write_clusters(
        _ivfpq_encoded(
            corpus, centroids, codebook, id_col, vec_col, assignment, encode=encode
        ),
        f"{path}/data", files_per_cluster,
    )
    spark = corpus.sparkSession
    cents = [[float(x) for x in c] for c in centroids]
    _write_centroids_meta(spark, path, cents, drift)
    spark.createDataFrame(
        [
            (
                json.dumps(
                    [[[float(x) for x in cc] for cc in cs] for cs in codebook]
                ),
                encode,
            )
        ],
        "codebook_json string, encode string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/_codebook")
    return cents, codebook


def _residual_sample(sample, centroids):
    """Sample residuals unit(v) − unit(c_assigned) for residual-mode
    codebook training (driver-side; the sample is bounded by
    contract)."""
    import numpy as np

    v = np.asarray(sample, dtype=np.float64)
    c = np.asarray(centroids, dtype=np.float64)
    cl = ((c * c).sum(axis=1)[None, :] - 2.0 * (v @ c.T)).argmin(axis=1)
    n = np.sqrt((v * v).sum(axis=1))
    unit = v / np.where(n == 0, 1.0, n)[:, None]
    return (unit - _unit_centroids(centroids).astype(np.float64)[cl]).tolist()


def read_ivfpq_encode_mode(spark, path: str) -> str:
    """The encode regime persisted by ``write_ivfpq_index`` ('direct'
    for pre-r11 indexes that carry no mode field)."""
    return _read_codebook(spark, path)[1]


def assign_drift_stats(
    batch: DataFrame,
    centroids,
    vec_col: str = "embedding",
) -> DataFrame:
    """The 'cheap online signal' the append retrain criteria cite,
    as an actual API: the distribution of nearest-centroid L2
    distances for a batch under a SAVED coarse quantizer — one
    Arrow-batched pass, one 1-row aggregate. The build records the
    training sample's own distribution in the index metadata
    (``read_drift_baseline``); compare each appended batch against it:
    a creeping mean/p95 means the frozen cells are skewing away from
    the incoming distribution and a retrain (``write_ivf_index`` /
    ``write_ivfpq_index`` without saved quantizers) is due. Returns
    one row: (n_vectors, mean_dist, p95_dist, max_dist) — the same
    keys the baseline dict carries."""
    import numpy as np
    import pandas as pd

    c = np.asarray(centroids, dtype=np.float64)
    c_sq = (c * c).sum(axis=1)

    def body(batches):
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            vecs = np.stack(col.map(np.asarray, na_action=None).values).astype(
                np.float64
            )
            d2 = (
                (vecs * vecs).sum(axis=1)[:, None]
                + c_sq[None, :]
                - 2.0 * (vecs @ c.T)
            ).min(axis=1)
            yield pd.DataFrame({"dist": np.sqrt(np.maximum(d2, 0.0))})

    dists = batch.select(vec_col).mapInPandas(body, "dist double")
    return dists.agg(
        F.count("dist").alias("n_vectors"),
        F.avg("dist").alias("mean_dist"),
        F.percentile_approx("dist", 0.95).alias("p95_dist"),
        F.max("dist").alias("max_dist"),
    )


def append_to_ivfpq_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    txn: str | None = None,
):
    """Incrementally append a NEW batch to an IVF-PQ index written by
    ``write_ivfpq_index`` (VERDICT r10 item 2): the batch is assigned
    AND PQ-encoded in one pass with the SAVED quantizers
    (``read_ivf_centroids`` + ``read_pq_codebook``, never retrained),
    under the index's own assignment regime and encode mode, then
    written cluster-aligned — post-append probe results are GATED
    equal to ``write_ivfpq_index(full_corpus, quantizers=saved)``
    (test_plans parity + the bench_io ``emb_ivfpq_append`` gate). Work
    is O(batch); the existing cluster files are untouched (each append
    adds ≤ ``files_per_cluster`` files per touched cluster —
    :func:`compact_index` rewrites just the bloated clusters, no
    re-encode of the rest). ``txn`` keys the staged-move ledger as in
    ``append_to_ivf_index``.

    Retrain-vs-append drift criterion: see ``append_to_ivf_index`` —
    identical, plus the PQ codebook adds a second drift surface (ADC
    error grows on out-of-distribution appends before assignment skew
    hurts, because the exact rerank only sees candidates the ADC pass
    ranked into the top k·refine).

    Returns (centroids, codebook) as read from the index."""
    return _append_to_index(batch, path, id_col, vec_col, files_per_cluster, txn)[:2]


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    refine: int = 4,
    salts: int | None = 8,
) -> DataFrame:
    """Top-k against an IVF-PQ index written by ``write_ivfpq_index``:
    per query, probe the ``n_probe`` nearest coarse centroids (BOTH
    probe phases scan only the probed clusters — ``PartitionFilters``
    on ``_cluster`` — and each query joins ONLY its probed clusters'
    codes), rank by ADC through the salted two-phase top-k over a
    column-pruned (neighbor_id, codes) scan, then exact-cosine rerank
    of the surviving ``k·refine`` ids fetched from the SAME table with
    the vector columns and partition+row-group pruning — the scan/rank/
    rerank shape FAISS calls IVFADC + refine. Above the
    ``_BATCHED_ASSIGN_MIN_K`` centroid (or ``_LLOYD_MATMUL_MIN_K``
    sub-codebook) threshold the probe ids and LUT compute driver-side
    in numpy (same split + arguments as ``ivf_topk_indexed`` /
    ``pq_topk_indexed``). A residual-encoded index (persisted mode)
    always takes the numpy path, with a PER-(query, probed-cluster)
    LUT over q' = unit(q) − unit(c_cluster) — the ADC then
    approximates ‖unit(q) − unit(v)‖² exactly as the direct mode
    does, just anchored at the cell centroid."""
    import numpy as np

    from pyspark.sql import types as T

    centroids, codebook, enc_mode = _read_quantizers(spark, path, "ivfpq")
    cb = np.asarray(codebook, dtype=np.float64)
    m, ks, sub = cb.shape
    # the write-side regime: a corpus assigned by the batched regime is
    # always probed by it too
    if _assign_regime(centroids, codebook, enc_mode) == "batched":
        c = np.asarray(centroids, dtype=np.float64)
        cu = _unit_centroids(centroids).astype(np.float64)
        rows = []
        for r in queries.select(id_col, vec_col).collect():
            v = r[vec_col]
            if v is None:
                continue
            v64 = np.asarray(v, dtype=np.float64)
            d2 = ((c - v64) ** 2).sum(-1)
            order = np.lexsort((np.arange(len(c)), d2))[:n_probe]
            qn = float(np.sqrt((v64 * v64).sum()))
            unit = v64 / (qn if qn != 0 else 1.0)
            if enc_mode == "residual":
                for cl in order:
                    qr = unit - cu[cl]
                    lut = [
                        ((cb[mi] - qr[mi * sub : (mi + 1) * sub]) ** 2).sum(-1).tolist()
                        for mi in range(m)
                    ]
                    rows.append((r[id_col], v, qn, int(cl), lut))
                continue
            lut = [
                ((cb[mi] - unit[mi * sub : (mi + 1) * sub]) ** 2).sum(-1).tolist()
                for mi in range(m)
            ]
            rows.extend((r[id_col], v, qn, int(cl), lut) for cl in order)
        schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[id_col].dataType, True),
                T.StructField("qvec", queries.schema[vec_col].dataType, True),
                T.StructField("qn", T.DoubleType(), True),
                T.StructField("_cluster", T.IntegerType(), True),
                T.StructField(
                    "lut", T.ArrayType(T.ArrayType(T.DoubleType(), True), True), True
                ),
            ]
        )
        q = spark.createDataFrame(rows, schema)
        probed = sorted({r[3] for r in rows})
    else:
        q_plan = _probed_queries(queries, centroids, id_col, vec_col, n_probe).withColumn(
            "lut", _pq_lut(F.col("qvec"), codebook, norm_col=F.col("qn"))
        )
        q_rows = q_plan.collect()
        q = spark.createDataFrame(q_rows, q_plan.schema)
        probed = sorted({r["_cluster"] for r in q_rows})
    data = spark.read.parquet(f"{path}/data").filter(F.col("_cluster").isin(probed))
    cand_rows = _pq_adc_candidates(
        data, q, n_cand=k * refine, salts=salts, join_on="_cluster"
    ).collect()
    vectors = data.select("neighbor_id", "cvec", "cn")
    return _indexed_rerank(spark, vectors, cand_rows, q, k)


def _assign_regime(centroids, codebook=None, encode=None) -> str:
    """The assignment regime of an index with these quantizers — the
    one ``"auto"`` rule the writers, appends and probes all resolve
    through (the r10 regime-switch invariant: on a near-tie the HOF
    fold and the numpy arithmetic can rank two centroids differently,
    and a mismatched probe could prune away the very cluster an
    identical indexed vector lives in): batched at
    ``_BATCHED_ASSIGN_MIN_K``+ clusters for every kind, and for IVF-PQ
    (``codebook`` given) also at ``ks ≥ _LLOYD_MATMUL_MIN_K`` or
    residual encode (whose residual subtraction is numpy
    arithmetic)."""
    if len(centroids) >= _BATCHED_ASSIGN_MIN_K:
        return "batched"
    if codebook is not None and (
        len(codebook[0]) >= _LLOYD_MATMUL_MIN_K or encode == "residual"
    ):
        return "batched"
    return "hof"


def _index_assign_regime(spark, path: str, has_codebook: bool, centroids) -> str:
    """:func:`_assign_regime` of the index at ``path``, reading its
    codebook sidecar only when the cluster count alone does not decide."""
    if len(centroids) >= _BATCHED_ASSIGN_MIN_K or not has_codebook:
        return _assign_regime(centroids)
    return _assign_regime(centroids, *_read_codebook(spark, path))


def _resolve_verify(verify: str, regime: str, broadcast_batch: bool) -> bool:
    """True when the VERIFY stage should run the Arrow-batched numpy
    matmul instead of the per-pair HOF cosine. ``"auto"`` follows the
    index's write-side assignment regime: a production-k index
    verifies batched, the small-k oracle-gated fixtures keep the
    pure-JVM HOF path. The matmul regime needs the probe side
    collected driver-side (the same bounded materialization
    ``broadcast_batch=True`` already implies — a Spark broadcast IS a
    driver collect), so backfill-sized ``broadcast_batch=False`` runs
    stay on the distributed HOF join."""
    if verify not in ("auto", "hof", "batched"):
        raise ValueError(f"verify must be 'auto', 'hof' or 'batched', got {verify!r}")
    if verify == "batched" and not broadcast_batch:
        raise ValueError(
            "verify='batched' builds per-cluster query matrices from the "
            "driver-collected probe side — incompatible with "
            "broadcast_batch=False (backfill-sized batches); use 'hof'"
        )
    if verify == "auto":
        return broadcast_batch and regime == "batched"
    return verify == "batched"


def _semantic_hits_hof(
    corpus: DataFrame, q: DataFrame, threshold: float, broadcast_q: bool = True
) -> DataFrame:
    """Verified-hit pairs (corpus_doc, batch_doc) — distributed join on
    the probed cluster + per-pair exact cosine (pure-JVM HOF fold,
    corpus norms reused from the index). NOT deduplicated: callers
    apply the distinct they need (dedup-against: distinct batch ids;
    the ingest round: distinct pairs)."""
    qq = F.broadcast(q) if broadcast_q else q
    return (
        corpus.select("_cluster", "neighbor_id", "cvec", "cn")
        .join(qq, "_cluster")
        .filter(
            VX.cosine_with_norms(
                F.col("cvec"), F.col("qvec"), F.col("cn"), F.col("qn")
            )
            >= threshold
        )
        .select(
            F.col("neighbor_id").alias("corpus_doc"),
            F.col("query_id").alias("batch_doc"),
        )
    )


def _matmul_blocks(spark, probe_rows):
    """Per-cluster query-matrix blocks (cluster → (Q f64 matrix, qn
    vector, query ids)) from the COMPACT probe rows, shipped as ONE
    Spark broadcast per round — both the cross and the within verify
    read the same handle (building it twice would double the driver
    CPU and the broadcast storage; a long-running streamed drain
    should also ``.unpersist()`` it once the round's counts
    materialize, which :func:`semantic_ingest_round` does). The rows
    carry one entry per query (the collect paid |batch| rows); the
    gemm layout re-expands each vector into its n_probe cluster
    blocks here, so the broadcast itself is n_probe-fold — the
    bounded, one-copy-per-executor side of the budget."""
    import numpy as np

    by_cluster: dict[int, list] = {}
    for r in probe_rows:
        if r["qvec"] is None:  # same explicit contract as the batched probe
            raise ValueError(
                "matmul verify: NULL vector rows are not probe-able — "
                "filter them out first (the batched probe rejects them "
                "the same way)"
            )
        for cl in r["_probes"]:
            by_cluster.setdefault(int(cl), []).append(r)
    blocks = {
        c: (
            np.stack([np.asarray(r["qvec"], dtype=np.float64) for r in rs]),
            np.asarray([float(r["qn"]) for r in rs], dtype=np.float64),
            [r["query_id"] for r in rs],
        )
        for c, rs in by_cluster.items()
    }
    return spark.sparkContext.broadcast(blocks)


def _semantic_hits_matmul(
    corpus: DataFrame, bc, threshold: float, q_dtype
) -> DataFrame:
    """Verified-hit pairs (corpus_doc, batch_doc) as ONE Arrow-batched
    numpy matmul pass over the (pruned) corpus — the VERIFY stage's
    production regime (r14, VERDICT r13 item 2: the per-pair HOF fold
    was the named 10× lever on the 1.3M probe). ``bc`` is the
    :func:`_matmul_blocks` broadcast; each corpus Arrow batch runs ONE
    f64 gemm per touched cluster (``C @ Qᵀ``, d×m multiply-adds per
    corpus row) instead of a generated-code fold per pair. Same
    arithmetic convention as
    :func:`..functions.vectors.cosine_with_norms`: cos = dot/(cn·qn),
    0.0 when either stored norm is 0 (f64 summation order differs
    from the sequential HOF fold by ulps — the regime-parity clone
    test pins equality on the gate fixtures, and near-threshold
    regime sensitivity is the same trade `_probed_queries_batched`
    documents). Corpus vectors never shuffle; output is only the hit
    pairs. NOT deduplicated (see `_semantic_hits_hof`)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("corpus_doc", corpus.schema["neighbor_id"].dataType, True),
            T.StructField("batch_doc", q_dtype, True),
        ]
    )

    def verify(batches):
        for pdf in batches:
            for c, grp in pdf.groupby("_cluster"):
                blk = bc.value.get(int(c))
                if blk is None or not len(grp):
                    continue
                qmat, qn, qids = blk
                cmat = np.stack(
                    grp["cvec"].map(np.asarray, na_action=None).values
                ).astype(np.float64)
                cn = grp["cn"].to_numpy(dtype=np.float64)
                dots = cmat @ qmat.T
                denom = np.outer(cn, qn)
                cos = np.divide(
                    dots, denom, out=np.zeros_like(dots), where=denom != 0
                )
                ci, qi = np.nonzero(cos >= threshold)
                if len(ci):
                    nb = grp["neighbor_id"].values
                    yield pd.DataFrame(
                        {
                            "corpus_doc": nb[ci],
                            "batch_doc": [qids[j] for j in qi],
                        }
                    )

    return corpus.select("_cluster", "neighbor_id", "cvec", "cn").mapInPandas(
        verify, out_schema
    )


def _semantic_probe_hits(
    batch: DataFrame,
    data_dir: str,
    centroids,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_probe: int,
    broadcast_batch: bool,
    verify: str,
    include_within: bool,
    regime: str,
):
    """Shared probe→verify engine for the semantic against-corpus
    family: returns (cross hit pairs, within-batch hit pairs or None,
    release) — the pair frames undeduplicated, ``release`` a zero-arg
    callable dropping the round's matmul broadcast (a no-op when the
    HOF verify ran). Call ``release()`` only after every plan built on
    the returned frames has materialized; callers that hand the frames
    onward lazily (``semantic_dedup_against``) leave the broadcast to
    ContextCleaner GC instead.

    ``regime`` is the index's WRITE-SIDE assignment regime
    (:func:`_assign_regime` — the r10 regime-switch invariant:
    for IVF-PQ the switch keys on ks/encode too, not just cluster
    count); the probe, the within-side assignment, and the ``"auto"``
    verify all follow it. The corpus scan prunes to exactly the probed
    cluster partitions (bounded ≤ n_clusters collect).

    With ``broadcast_batch`` the probe side is collected ONCE — in the
    COMPACT (unexploded) form, one row per batch vector with its
    n_probe cluster ids as an array, so the driver pays |batch| rows
    rather than |batch| × n_probe duplicated vector copies — and
    reused for the cluster-id pruning list, the (optional) matmul
    matrices, and the join relation (r13's shape recomputed the
    mapInPandas probe for the second consumer — ADVICE r13).

    ``include_within``: also pair the batch against ITSELF under the
    index's geometry — batch vectors a, b pair iff b's assigned
    cluster is in a's probe list (or vice versa; both directions are
    emitted when both hold). Same recall contract as the cross probe:
    exhaustive ``n_probe = n_clusters`` is brute force, exact
    duplicates are always found at any n_probe ≥ 1 (identical vectors
    share a nearest centroid)."""
    spark = batch.sparkSession
    n_probe = min(n_probe, len(centroids))
    assigned = (
        _assigned_frame(batch, centroids, id_col, vec_col, regime)
        if include_within
        else None
    )
    use_matmul = _resolve_verify(verify, regime, broadcast_batch)
    release = lambda: None  # noqa: E731 — default no-op
    if broadcast_batch:
        compact_fn = (
            _probed_compact_batched if regime == "batched" else _probed_compact_hof
        )
        compact = compact_fn(batch, centroids, id_col, vec_col, n_probe)
        rows = compact.collect()
        mods = sorted({int(cl) for r in rows for cl in r["_probes"]})
        corpus = spark.read.parquet(data_dir).filter(F.col("_cluster").isin(mods))
        if use_matmul:
            # ONE blocks broadcast serves both the cross and the
            # within verify
            bc = _matmul_blocks(spark, rows)
            release = bc.unpersist
            q_dtype = batch.schema[id_col].dataType
            cross = _semantic_hits_matmul(corpus, bc, threshold, q_dtype)
            within = (
                _semantic_hits_matmul(assigned, bc, threshold, q_dtype)
                if include_within
                else None
            )
        else:
            # rebuild a LOCAL relation from the compact rows and explode
            # in-plan — the local relation stays |batch|-sized
            q = spark.createDataFrame(rows, compact.schema).select(
                "query_id", "qvec", "qn", F.explode("_probes").alias("_cluster")
            )
            cross = _semantic_hits_hof(corpus, q, threshold)
            within = (
                _semantic_hits_hof(assigned, q, threshold)
                if include_within
                else None
            )
    else:
        b = (_probed_queries_batched if regime == "batched" else _probed_queries)(
            batch, centroids, id_col, vec_col, n_probe
        )
        # backfill-sized batch: never collect. Eager localCheckpoint —
        # the probe frame is consumed twice (cluster-id collect + join)
        # and each evaluation would re-run the probe map; a checkpoint
        # truncates without a persist left pinned in a long session.
        b = b.localCheckpoint()
        mods = sorted(r._cluster for r in b.select("_cluster").distinct().collect())
        corpus = spark.read.parquet(data_dir).filter(F.col("_cluster").isin(mods))
        cross = _semantic_hits_hof(corpus, b, threshold, broadcast_q=False)
        within = (
            _semantic_hits_hof(assigned, b, threshold, broadcast_q=False)
            if include_within
            else None
        )
    return cross, within, release


def semantic_dedup_against(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_probe: int = 4,
    broadcast_batch: bool = True,
    verify: str = "auto",
    return_release: bool = False,
):
    """Rows of ``batch`` whose cosine similarity to EVERY vector
    already in the at-rest IVF / IVF-PQ index stays BELOW ``threshold``
    — cross-run SEMANTIC dedup (SemDeDup's keep/drop decision against
    an ingested corpus instead of an in-frame clustering), completing
    the against-corpus family: exact fingerprints
    (``dedup_exact_against``), MinHash (``near_duplicates_against``),
    SimHash (``simhash_near_duplicates_against``), and now embeddings.

    Plan shape (the family's): each batch vector computes its
    ``n_probe`` nearest SAVED centroids under the index's own quantizer
    (never retrained) with the REGIME MATCHING the index's write-side
    assignment — plan-constant HOF below ``_BATCHED_ASSIGN_MIN_K``
    clusters, the distributed Arrow-batched numpy probe at or above it
    (:func:`_probed_queries_batched`; a mismatched regime could prune
    away an identical indexed vector's cluster on a near-tie, and the
    HOF form hits minutes of codegen at production k anyway). The index
    scan prunes to exactly those cluster partitions
    (``PartitionFilters`` on ``_cluster``, from a bounded ≤ n_clusters
    collect), EXACT cosine
    verifies candidates (the corpus side reuses its stored norms; the
    batch side is broadcast — pass ``broadcast_batch=False`` for
    backfill-sized batches), and the batch anti-joins the hit ids.
    Corpus vectors never shuffle; work is O(batch × probed-cluster
    rows).

    Recall contract, stated not hidden: a qualifying corpus partner
    outside a batch vector's ``n_probe`` clusters is missed — the
    standard IVF probe trade. An EXACT duplicate is always found at any
    ``n_probe`` ≥ 1 (identical vectors share a nearest-centroid list);
    for near-threshold pairs raise ``n_probe`` (``= n_clusters`` probes
    exhaustively and matches brute force). Probe BEFORE appending the
    survivors (``append_to_ivf_index`` / ``append_to_ivfpq_index``), or
    each batch vector pairs with its own just-appended copy —
    :func:`semantic_ingest_round` packages that rule structurally.

    ``verify`` picks the exact-cosine verify stage (r14):
    ``"hof"`` per-pair pure-JVM fold, ``"batched"`` one Arrow-batched
    f64 matmul per corpus block against per-cluster query matrices
    (:func:`_semantic_hits_matmul` — the production regime at scale),
    ``"auto"`` follows the index's assignment-regime switch.

    Broadcast lifetime (r15, ADVICE r14): the matmul verify ships the
    per-cluster query matrices as ONE Spark broadcast that the
    returned LAZY frame still references — this call cannot unpersist
    it, so by default it lives until ContextCleaner GCs the frame.
    One-shot callers can ignore that; a long-lived driver calling
    this in a loop accumulates ~|batch|·n_probe·d f64 of
    driver+executor broadcast storage per un-collected iteration.
    Such callers should pass ``return_release=True`` and receive
    ``(survivors, release)`` — call the zero-arg ``release()`` AFTER
    materializing everything built on the survivors frame (it is a
    no-op under the HOF verify). Loops that also APPEND survivors
    should use :func:`semantic_ingest_round`, which owns this
    release internally per round."""
    spark = batch.sparkSession
    kind, data_dir, _ = _semantic_index(path, "semantic_dedup_against")
    centroids = read_ivf_centroids(spark, path)
    regime = _index_assign_regime(spark, path, kind == "ivfpq", centroids)
    # the returned frame is lazy, so the matmul broadcast (if any)
    # must outlive this call — ContextCleaner GC by default, the
    # caller's explicit release() under return_release=True
    cross, _, release = _semantic_probe_hits(
        batch, data_dir, centroids, id_col, vec_col, threshold, n_probe,
        broadcast_batch, verify, include_within=False, regime=regime,
    )
    hits = cross.select(F.col("batch_doc").alias("__sem_hit")).distinct()
    survivors = batch.join(
        F.broadcast(hits), batch[id_col] == F.col("__sem_hit"), "left_anti"
    )
    return (survivors, release) if return_release else survivors


def _semantic_index(path: str, caller: str) -> tuple[str, str, str]:
    """:func:`_index_layout` of the index a semantic probe runs against
    — refused for a flat PQ table, and repaired first if a compaction
    crashed mid-swap (never trust a mid-swap table)."""
    kind, data_dir, file_glob = _index_layout(path)
    if kind == "pq":
        raise ValueError(
            f"{caller} needs a cluster-partitioned index (ivf, ivfpq) — a "
            "flat PQ table has no coarse quantizer to probe with"
        )
    recover_index_compaction(data_dir)
    return kind, data_dir, file_glob


def _maybe_compact_index(
    spark, path: str, file_glob: str, files_per_cluster: int, bound: float
) -> int:
    """Trigger-gated :func:`compact_index`: compact when the data dir
    holding the most files (a cluster; a PQ table) exceeds ``bound``
    — one globStatus listing over ``file_glob`` (from
    :func:`_index_layout`)."""
    if max(FS.files_per_dir(file_glob).values(), default=0) > bound:
        return compact_index(spark, path, files_per_cluster=files_per_cluster)[
            "compacted"
        ]
    return 0


def semantic_ingest_round(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_probe: int = 4,
    files_per_cluster: int = 1,
    compact_trigger: float = 3.0,
    broadcast_batch: bool = True,
    verify: str = "auto",
    txn: str | None = None,
) -> dict:
    """One cross-run SEMANTIC ingest round, as ONE call — the
    embeddings member of the ingest-round family
    (``dedup.minhash_ingest_round`` / ``fingerprint_ingest_round`` /
    ``simhash_ingest_round``), completing it across all four at-rest
    signature types. Over an IVF or IVF-PQ index written by
    ``write_ivf_index`` / ``write_ivfpq_index``:

    1. probe the batch against the corpus (:func:`_semantic_probe_hits`
       — scan pruned to the probed cluster partitions, corpus never
       shuffles, verify stage per ``verify``) and against ITSELF under
       the same index geometry (batch vectors pair iff one's assigned
       cluster is in the other's probe list — exhaustive
       ``n_probe = n_clusters`` is brute force, exact duplicates always
       found);
    2. pick survivors with the shared INGEST policy
       (``dedup._ingest_survivor_policy`` — any component containing
       corpus content loses its batch members transitively, a
       corpus-free component keeps exactly its minimum batch member);
    3. append ONLY the survivors under the SAVED quantizers (the
       index's own encode mode, O(batch)) and compact when the worst
       cluster exceeds ``compact_trigger × files_per_cluster`` files.

    Same contract as the other three families
    (``dedup._txn_ingest_round``): the probe and survivor policy run
    strictly before any staged cluster file moves into the index, so a
    foreachBatch replay can never re-probe a half-appended index and
    watch the batch pair with itself; ``txn`` keys the staged-move
    ledger (the survivor record + stats persist under
    ``{path}/_rounds``), and ``txn=None`` uses a throwaway ledger id.
    Returns {action, txn, survivors, n_batch, n_cross_pairs,
    n_within_pairs, n_survivors, compacted, secs}; the survivors frame
    is localCheckpoint-ed (already appended; append it nowhere else).

    Quantizer health stays :func:`maintain_index`'s job — a drifting
    stream should run the maintenance policy on its own cadence; this
    round never retrains (retraining mid-round would re-assign the
    just-probed clusters under the caller's feet)."""
    from .dedup import _EDGE_ROUND_STATS, _edge_round_stage, _txn_ingest_round

    spark = batch.sparkSession
    root = path.rstrip("/")
    kind, data_dir, file_glob = _semantic_index(root, "semantic_ingest_round")
    quantizers = _read_quantizers(spark, root, kind)
    centroids = quantizers[0]
    regime = _assign_regime(*quantizers)

    def probe():
        cross, within, release = _semantic_probe_hits(
            batch, data_dir, centroids, id_col, vec_col, threshold, n_probe,
            broadcast_batch, verify, include_within=True, regime=regime,
        )
        return (*_semantic_round_edges(cross, within), release)

    def write_rows(survivors: DataFrame, stage: str) -> None:
        _write_index_rows(
            survivors, stage, kind, quantizers, id_col, vec_col, files_per_cluster
        )

    return _txn_ingest_round(
        batch, root, id_col, txn,
        _edge_round_stage(batch, id_col, probe, write_rows),
        stats_extract=_EDGE_ROUND_STATS,
        after_commit=lambda: _maybe_compact_index(
            spark, root, file_glob, files_per_cluster,
            compact_trigger * files_per_cluster,
        ),
    )


def _semantic_round_edges(
    cross: DataFrame, within: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Canonicalize the raw hit pairs into the ingest policy's edge
    shape: distinct (corpus_doc, batch_doc) cross edges; within-batch
    self-pairs dropped, both discovery directions folded into one
    ordered (doc_a < doc_b) distinct edge."""
    vs_corpus = cross.distinct()
    win = (
        within.filter(F.col("corpus_doc") != F.col("batch_doc"))
        .select(
            F.least("corpus_doc", "batch_doc").alias("doc_a"),
            F.greatest("corpus_doc", "batch_doc").alias("doc_b"),
        )
        .distinct()
    )
    return vs_corpus, win


def delete_from_index(spark, path: str, ids: DataFrame) -> dict:
    """Right-to-be-forgotten for the at-rest ANN indexes: hard-delete
    vectors by id from an IVF or IVF-PQ index via the partition-pruned
    deletion plan (``sources.forget``) — one column-pruned
    (neighbor_id, _cluster) scan finds the deleted vectors' clusters,
    only those cluster partitions rewrite; probes never see the ids
    again and ranks of surviving vectors are unchanged (the centroids
    are untouched — deletion never moves a survivor between clusters).
    Quantizers deliberately stay as built: cluster geometry fit on
    more data than remains is still a valid (if slightly stale)
    coarse quantizer, exactly the append case's mirror image — the
    drift criterion in ``append_to_ivf_index`` governs retrain timing
    for both directions.

    PQ's flat codes/vectors tables are refused: they carry no
    partition column to prune, so deletion there is a filtered rewrite
    of both tables (compact_dir with a filter) — at 100 TB that is a
    different operation and silently doing it here would hide an
    O(table) cost behind a delete call."""
    from ..sources.forget import delete_rows_partitioned

    kind, data_dir, _ = _index_layout(path)
    if kind == "pq":
        raise ValueError(
            "delete_from_index supports cluster-partitioned indexes (ivf, "
            "ivfpq); a flat PQ table needs a filtered rewrite of codes AND "
            "vectors (compact_dir) — an O(table) operation this API won't hide"
        )
    # quiescence guard (same contract as dedup.forget_documents): a
    # crashed-but-uncommitted streamed append holds a frozen staging
    # whose remaining moves target these cluster partitions —
    # rewriting them now would let the replay re-move already-merged
    # files (duplicating rows, or resurrecting the ids deleted here).
    # Litter from a COMMITTED txn (crash between marker and cleanup)
    # is reaped here (explicitly — pending_txns is read-only by
    # default), not counted.
    from ..sources.txn import pending_txns

    pending = pending_txns(path, reap_committed=True)
    if pending:
        raise RuntimeError(
            f"{len(pending)} in-flight append transaction(s) staged under "
            f"{path}/_ingest_tmp — re-drain the stream (completing the "
            "replay) before deleting, or delete the staging to abandon it"
        )
    recover_index_compaction(data_dir)  # never trust a mid-swap table
    stats = delete_rows_partitioned(
        spark, data_dir, ids, key_col="neighbor_id", partition_col="_cluster"
    )
    stats["kind"] = kind
    return stats
