"""Connected components over a pair/edge list — the dedup-clustering
step that turns near-duplicate PAIRS (Jaccard / MinHash / SimHash /
embedding output) into groups with one canonical document each.

Algorithm: minimum-label propagation WITH pointer jumping — every
node starts as its own component id; each round takes the min id over
itself and its neighbors, then follows its label's label
(``comp := comp[comp]``). The jump halves label-tree depth each round,
so convergence needs O(log diameter) rounds, not O(diameter) — at
local scale each round costs ~0.5 s of job latency regardless of data
size, and at 100 TB each round is a full shuffle, so round count is
THE cost either way (same reason the large-star/small-star algorithm
of Kiveris et al., "Connected Components in MapReduce and Beyond",
exists). Per round: two joins + one groupBy (shuffles on the node
id) and a ``localCheckpoint`` to truncate lineage (otherwise the plan
doubles every round and the driver becomes the bottleneck); the
convergence test rides the checkpoint job as an in-plan Observation
metric, so each round is exactly ONE Spark action.

Min-label semantics map 1:1 onto a recursive-CTE oracle (transitive
closure + group-min), putting even this iterative operator under the
differential gate.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import fsutil as FS
from .dedup import _read_params


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    use_reliable_checkpoint: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is
    the minimum node id reachable from the node (undirected).

    ``use_reliable_checkpoint=True`` swaps ``localCheckpoint`` (blocks
    on executor storage — lost forever if an executor dies mid-
    iteration) for a reliable ``checkpoint()`` persisted to the
    SparkContext's checkpoint dir — the right choice on a real cluster
    where executor churn over a many-round job is expected. Requires
    ``spark.sparkContext.setCheckpointDir(...)`` to have been called.

    ``stats_out``: pass a dict to receive ``{"rounds": int,
    "round_secs": [float, ...]}`` for THIS run — round count is the
    operator's real cost (each round is a full shuffle at scale), so
    the bench records it alongside wall time to explain run-to-run
    movement. A caller-owned dict, not a module global: concurrent
    runs (parallel tests, nested pipelines) each see their own stats.
    """

    def _ckpt(df: DataFrame) -> DataFrame:
        if use_reliable_checkpoint:
            # persist first: reliable checkpoint materializes via the
            # eager job and then RE-RUNS the lineage to write the
            # checkpoint files — uncached, every round would compute
            # its shuffles twice (the documented persist-before-
            # checkpoint caveat). localCheckpoint caches by design.
            df = df.persist()
            out = df.checkpoint(eager=True)
            df.unpersist()
            return out
        return df.localCheckpoint()

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    sym = _ckpt(sym)

    # Seed labels with min(self, direct neighbors) — the fixpoint of
    # round 1's min-label step without its two joins (one groupBy over
    # the already-checkpointed symmetric edges): cuts one full round
    # off every run.
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("comp"))
        .select(F.col("a").alias("node"), "comp")
    )
    rounds, round_secs = 0, []
    for _ in range(max_iter):
        t0 = time.perf_counter()
        nbr_min = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), F.col("comp"))
        )
        propagated = (
            labels.select("node", "comp")
            .union(nbr_min)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp := comp[comp] (label of my label). The
        # label is always an existing node id, so the self-join hits.
        hop = propagated.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        stepped = propagated.join(hop, "comp", "left").select(
            "node", F.coalesce("comp2", "comp").alias("comp")
        )
        # Convergence via an in-plan Observation riding the checkpoint
        # job: join the previous labels back on (co-partitioned — the
        # checkpointed side keeps its hash partitioning) and SUM the
        # changed flags as a query metric. Zero extra actions: the
        # eager checkpoint's own job populates the observation, where
        # the previous design paid a separate join+count job every
        # second round. Labels only ever decrease, so changed == 0 in
        # any round means a fixpoint.
        obs = Observation()
        flagged = (
            stepped.join(labels.select("node", F.col("comp").alias("_prev")), "node")
            .observe(
                obs,
                # coalesce: SUM over ZERO rows is NULL, and None != 0 —
                # without it an empty edge list runs all max_iter rounds
                F.coalesce(
                    F.sum((F.col("comp") != F.col("_prev")).cast("long")), F.lit(0)
                ).alias("changed"),
            )
            .select("node", "comp")
        )
        labels = _ckpt(flagged)
        rounds += 1
        round_secs.append(round(time.perf_counter() - t0, 4))
        if obs.get["changed"] == 0:
            break
    if stats_out is not None:
        stats_out.clear()
        stats_out.update({"rounds": rounds, "round_secs": round_secs})
    return labels


def extend_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats_out: dict | None = None,
) -> DataFrame:
    """Incrementally extend a (node, comp) assignment table with a NEW
    batch of edges — cross-run dedup clustering: each ingest round's
    near-dup pairs (within the batch AND batch-vs-corpus, e.g. from
    ``near_duplicates_against``) fold into the standing clusters
    without recomputing the corpus graph.

    EXACT, not approximate, by the star-graph property: a component's
    (node → comp) rows are themselves edges that reproduce its
    connectivity (comp is a member node, so the star is connected and
    contains the component's min id), so
    ``connected_components(star(assignments) ∪ new_edges)`` equals
    ``connected_components(original_edges ∪ new_edges)`` — the
    original edge list never needs to be kept. Gated against exactly
    that equality in tests/test_graph.py.

    Work is O(affected), not O(corpus): only components touching a new
    edge's endpoint re-enter the iteration —

    - the touched component ids come from a broadcast semi-join of the
      (tiny) endpoint set against ``assignments``;
    - untouched rows pass through via a broadcast anti-join on comp —
      the corpus table is never shuffled, and at rest the comp-hash
      partition layout prunes most of it out of the scan entirely;
    - the pointer-jumping iteration runs over the affected star edges
      plus the new edges only.

    Labels of affected components may DECREASE (a merge adopts the
    smaller side's min id; a new node with a smaller id than every
    corpus member becomes the new canonical) — min-label semantics,
    same as a full recompute. Returns the full updated (node, comp)
    table."""
    endpoints = (
        new_edges.select(F.col(src).alias("node"))
        .union(new_edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    touched = (
        assignments.join(F.broadcast(endpoints), "node", "left_semi")
        .select("comp")
        .distinct()
    )
    affected = assignments.join(F.broadcast(touched), "comp", "left_semi")
    star = affected.select(F.col("node").alias("a"), F.col("comp").alias("b"))
    combined = star.union(
        new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    updated = connected_components(
        combined, src="a", dst="b", max_iter=max_iter, stats_out=stats_out
    )
    untouched = assignments.join(F.broadcast(touched), "comp", "left_anti")
    return untouched.unionByName(updated)


def write_components(
    assignments: DataFrame,
    path: str,
    parts: int = 64,
    files_per_part: int = 1,
) -> None:
    """Persist a (node, comp) assignment table AT REST, partitioned by
    ``part = pmod(xxhash64(comp), parts)`` — comp-hash partitioning
    puts EVERY member of a component in exactly one hive partition, so
    :func:`extend_components_at_rest` can rewrite a touched component
    without touching (or reading) the rest of the table. Same
    ``_params`` sidecar and file-count discipline (repartition on part
    + optional salt before partitionBy) as the signature tables."""
    out = assignments.select(
        "node", "comp", F.pmod(F.xxhash64("comp"), F.lit(parts)).alias("part")
    )
    if files_per_part > 1:
        salt = F.pmod(F.xxhash64("node"), F.lit(files_per_part))
        out = out.repartition(F.col("part"), salt)
    else:
        out = out.repartition(F.col("part"))
    out.write.partitionBy("part").mode("overwrite").parquet(f"{path}/assign")
    FS.write_sidecar(
        f"{path}/_params", {"parts": parts, "files_per_part": files_per_part},
        assignments.sparkSession,
    )


def read_components(spark, path: str) -> DataFrame:
    """The (node, comp) table persisted by :func:`write_components`."""
    return spark.read.parquet(f"{path}/assign").select("node", "comp")


def extend_components_at_rest(
    spark,
    path: str,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats_out: dict | None = None,
    strict_sizing: bool = False,
) -> dict:
    """:func:`extend_components` against the AT-REST table — each
    ingest round folds its near-dup pairs into the standing cluster
    assignments in place, rewriting only the partitions whose
    components were touched:

    - touched components come from one column-pruned scan of
      (node, comp) semi-joined with the broadcast endpoint set (two
      longs per row — the one corpus-wide pass, and the reason the
      table carries nothing else);
    - their members are re-read through a ``part IN (...)``
      partition-pruned scan, re-clustered with the new edges
      (:func:`connected_components` over the affected star only), and
      written back with dynamic partition overwrite — merged
      components move to their new comp-hash partition, survivors of
      the old partitions are carried over in the same write;
    - an old partition whose every row moved away receives no rows
      (dynamic overwrite cannot clear it), so those are removed
      explicitly through the Hadoop FileSystem API (``fsutil``) —
      file/hdfs/s3a alike.

    Labels only ever DECREASE under min-label semantics, so repeated
    extends converge exactly like one big recompute (gated in
    tests/test_graph.py: interleaved extends == full-union CC).

    **Write-amplification sizing** (measured at 1M nodes —
    COVERAGE.md): the ITERATION is O(affected), but the WRITE rewrites
    every partition a touched comp hashes into, ≈ ``min(touched,
    parts) × corpus/parts`` rows — so ``parts`` must be large next to
    the expected touched-comps-per-batch or the rewrite degenerates
    toward a full rewrite (1,245 touched comps over parts=256 hit 254
    partitions; the same corpus with a 100-edge batch over parts=4096
    rewrites ~3%). Size ``parts`` ≥ ~20× the expected touched comps
    per batch (subject to file-count budget); for firehose ingest,
    buffer edges and extend in consolidated rounds instead of
    per-micro-batch. The returned stats carry the measured ratio
    (``touched_parts_ratio`` = rewritten partitions / parts) and the
    round WARNS (or raises under ``strict_sizing=True``) when the
    batch touches more components than ``parts / 20`` — the measured
    threshold beyond which the rewrite degenerates; the fix is a
    larger ``parts`` at the next full :func:`write_components`, or
    consolidating batches. Returns {touched_comps, rewritten_parts,
    touched_parts_ratio, n_updated}."""
    parts = _read_params(spark, path)["parts"]
    table = spark.read.parquet(f"{path}/assign")

    endpoints = (
        new_edges.select(F.col(src).alias("node"))
        .union(new_edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    touched = (
        table.join(F.broadcast(endpoints), "node", "left_semi")
        .select("comp")
        .distinct()
    )
    # comp ids are bounded by the batch's endpoint count (each endpoint
    # is in at most one component) — a driver-side list by contract,
    # like ANN probe ids
    touched_rows = touched.withColumn(
        "part", F.pmod(F.xxhash64("comp"), F.lit(parts))
    ).collect()
    if not touched_rows and new_edges.isEmpty():
        return {
            "touched_comps": 0,
            "rewritten_parts": 0,
            "touched_parts_ratio": 0.0,
            "n_updated": 0,
        }
    touched_comps = [r["comp"] for r in touched_rows]
    old_parts = sorted({r["part"] for r in touched_rows})
    if len(touched_comps) > parts / 20:
        msg = (
            f"extend_components_at_rest: batch touches {len(touched_comps)} "
            f"components against parts={parts} — beyond the measured "
            f"parts/20 sizing bound the rewrite degenerates toward a full "
            f"table rewrite (COVERAGE.md 1M adversarial regime). Rebuild "
            f"with write_components(parts >= ~{20 * len(touched_comps)}) or "
            f"consolidate batches before extending."
        )
        if strict_sizing:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)

    pruned = table.filter(F.col("part").isin(old_parts)) if old_parts else table.limit(0)
    # comp type carried from the table schema, not a literal (string /
    # int node ids pass through — the r10-advice hardcoded-type trap)
    from pyspark.sql import types as T

    touched_df = spark.createDataFrame(
        [(c,) for c in touched_comps],
        T.StructType([T.StructField("comp", table.schema["comp"].dataType)]),
    )
    affected = pruned.join(F.broadcast(touched_df), "comp", "left_semi")
    updated = extend_components(
        affected.select("node", "comp"),
        new_edges,
        src=src,
        dst=dst,
        max_iter=max_iter,
        stats_out=stats_out,
    )
    keep = pruned.join(F.broadcast(touched_df), "comp", "left_anti").select(
        "node", "comp"
    )
    upd = updated.select(
        "node", "comp", F.pmod(F.xxhash64("comp"), F.lit(parts)).alias("part")
    ).persist()
    try:
        # a merged or brand-new component's comp-hash can land in a
        # partition holding only UNTOUCHED components; dynamic
        # overwrite replaces whole partitions, so those partitions'
        # existing rows must ride along in the write or they'd be
        # silently dropped (every row there is untouched by
        # construction — touched comps live in old_parts)
        new_parts = sorted(
            {r["part"] for r in upd.select("part").distinct().collect()}
            - set(old_parts)
        )
        carry = (
            table.filter(F.col("part").isin(new_parts)).select("node", "comp")
            if new_parts
            else table.limit(0).select("node", "comp")
        )
        out = upd.select("node", "comp").unionByName(keep).unionByName(carry)
    finally:
        upd.unpersist()
    out = out.select(
        "node", "comp", F.pmod(F.xxhash64("comp"), F.lit(parts)).alias("part")
    )
    from ..sources.forget import dynamic_partition_overwrite

    out = out.repartition(F.col("part")).persist()
    try:
        n_updated = out.count()
        written_parts = dynamic_partition_overwrite(out, f"{path}/assign", "part")
    finally:
        out.unpersist()
    emptied = set(old_parts) - written_parts
    for p in emptied:
        FS.delete(f"{path}/assign/part={p}")
    rewritten = len(written_parts | emptied)
    return {
        "touched_comps": len(touched_comps),
        "rewritten_parts": rewritten,
        "touched_parts_ratio": round(rewritten / parts, 4),
        "n_updated": n_updated,
    }


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    use_reliable_checkpoint: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """Near-dup pair list → per-cluster summary: canonical id (= min
    member), member count, sorted member list. The keep-one-per-cluster
    policy of a curation pipeline is then a semi-join on
    ``cluster == node``.

    ``doc_ids`` is emitted as a comma-joined STRING, not an array:
    string scalars survive any downstream tabular canonicalization
    (pandas cannot sort/hash list cells), and the serialization is
    deterministic because members are sorted on their native type
    before stringification.
    """
    from .dedup import joined_doc_ids

    comp = connected_components(
        pairs,
        src=id_a,
        dst=id_b,
        max_iter=max_iter,
        use_reliable_checkpoint=use_reliable_checkpoint,
        stats_out=stats_out,
    )
    return (
        comp.groupBy(F.col("comp").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            joined_doc_ids("node").alias("doc_ids"),
        )
    )


def forget_nodes(spark, path: str, ids: DataFrame) -> dict:
    """Right-to-be-forgotten for the AT-REST component table: remove
    every (node, comp) row of the given node ids, RELABELING any
    component whose canonical id was forgotten — min-label semantics
    require the label to be a member (the star-graph property
    :func:`extend_components` depends on: a later extend re-emits
    ``comp`` as a graph endpoint, so a forgotten node surviving as a
    label would resurrect it). Same partition discipline as
    :func:`extend_components_at_rest`: touched comps from one
    broadcast semi-join, their partitions re-read pruned, relabeled
    rows carried to their new comp-hash partitions with
    foreign-partition riders, emptied partitions cleared via the FS
    API. Untouched components are never read past the key scan.

    **Semantic limit, stated not hidden**: the table stores
    memberships, not edges, so forgetting a node CANNOT split a
    component that was connected only through it — survivors keep one
    cluster (under a surviving min label). Exact splits need the
    retained edge list (recompute connected_components over edges
    among survivors); that is a property of incremental CC itself
    (deletion is famously non-incremental), not of this storage
    layout. For the dedup use case the conservative direction is
    documented: over-grouping keeps fewer near-duplicates, never
    readmits one.

    **Quiescence contract** (same as ``dedup.forget_documents``, which
    enforces it mechanically on its own root): run forgets only while
    no ingest round that folds into THIS table is in flight — a
    crashed-pre-manifest streamed round restages on restart and
    re-folds its edge set, which still names the forgotten node as an
    endpoint and would re-insert its membership. This table cannot see
    the signature table's staging, so the ordering is operational:
    drain (or abandon) the stream, forget, resume. Returns
    {rows_deleted, comps_touched, comps_relabeled, rewritten_parts}."""
    from pyspark.sql import types as T

    parts = _read_params(spark, path)["parts"]
    table = spark.read.parquet(f"{path}/assign")
    key = F.broadcast(ids.select(F.col(ids.columns[0]).alias("node")).distinct())

    touched_rows = (
        table.join(key, "node", "left_semi")
        .select("comp")
        .distinct()
        .withColumn("part", F.pmod(F.xxhash64("comp"), F.lit(parts)))
        .collect()
    )  # bounded by |ids| — each node is in at most one component
    if not touched_rows:
        return {
            "rows_deleted": 0, "comps_touched": 0,
            "comps_relabeled": 0, "rewritten_parts": 0,
        }
    touched_comps = [r["comp"] for r in touched_rows]
    old_parts = sorted({r["part"] for r in touched_rows})
    touched_df = spark.createDataFrame(
        [(c,) for c in touched_comps],
        T.StructType([T.StructField("comp", table.schema["comp"].dataType)]),
    )
    pruned = table.filter(F.col("part").isin(old_parts))
    affected = pruned.join(F.broadcast(touched_df), "comp", "left_semi").select(
        "node", "comp"
    )
    keep_rows = pruned.join(F.broadcast(touched_df), "comp", "left_anti").select(
        "node", "comp"
    )
    survivors = affected.join(key, "node", "left_anti")
    # relabel each touched comp to its surviving minimum member
    relabeled = (
        survivors.withColumn(
            "new_comp", F.min("node").over(Window.partitionBy("comp"))
        )
        .select("node", F.col("new_comp").alias("comp"))
    )
    upd = relabeled.withColumn(
        "part", F.pmod(F.xxhash64("comp"), F.lit(parts))
    ).persist()
    try:
        n_after = upd.count()
        n_before = affected.count()
        new_parts = sorted(
            {r["part"] for r in upd.select("part").distinct().collect()}
            - set(old_parts)
        )
        carry = (
            table.filter(F.col("part").isin(new_parts)).select("node", "comp")
            if new_parts
            else table.limit(0).select("node", "comp")
        )
        n_relabel = (
            upd.select("comp").distinct()
            .join(F.broadcast(touched_df), "comp", "left_anti")
            .count()
        )
        out = upd.select("node", "comp").unionByName(keep_rows).unionByName(carry)
    finally:
        upd.unpersist()
    from ..sources.forget import dynamic_partition_overwrite

    out = out.select(
        "node", "comp", F.pmod(F.xxhash64("comp"), F.lit(parts)).alias("part")
    ).repartition(F.col("part")).persist()
    try:
        written_parts = dynamic_partition_overwrite(out, f"{path}/assign", "part")
    finally:
        out.unpersist()
    emptied = (set(old_parts) | set(new_parts)) - written_parts
    for p in emptied:
        FS.delete(f"{path}/assign/part={p}")
    return {
        "rows_deleted": int(n_before - n_after),
        "comps_touched": len(touched_comps),
        "comps_relabeled": int(n_relabel),
        "rewritten_parts": len(written_parts | emptied),
    }
