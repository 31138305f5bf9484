"""Streaming EMBEDDING admission: a continuous near-duplicate gate
over an embedding stream, backed by the persisted hyperplane-LSH
index — the fifth and last modality of the admission family (text
MinHash, image dHash, audio fingerprint, video frame hashes, and now
embeddings), so semantic dedup (the SemDeDup-adjacent cosine gate)
runs continuously instead of corpus-vs-corpus per snapshot.

Batch building blocks are operators/similarity.py's incremental path
(``emb_neardup_index_write / emb_neardup_incremental /
emb_neardup_index_insert`` — the batch tags itself, merges occupancy
deltas, prunes the index map-side, verifies with exact cosine; the
corpus is never re-tagged). Decision routing follows the family
discipline: corpus duplicates reject with index provenance (max
cosine, then min id), within-batch pairs resolve with the shared
component policy (admission_common — every rejected row's ``dup_of``
is an ADMITTED vector or an index id), and pairs are classified by ID
MEMBERSHIP (a pair side whose id is in the current batch is a batch
row even if a prior crashed attempt already inserted it — the same
interleaving-invariance rule as the other gates).

Crash-window discipline differs in ONE mechanism: this index has no
per-row self-detection (the LSH keys/vecs layout stores no epoch, and
probing it for batch ids would scan corpus-sized id columns — against
the O(batch) contract), so inserts are guarded by a per-(app, epoch)
RECEIPT written AFTER the inserts and BEFORE the decisions commit:
- crash before/during inserts (no receipt): replay re-runs all three
  appends; a partially-inserted id gains duplicate key/vec rows —
  BENIGN for decisions (duplicate pairs collapse in the per-id
  aggregations; self pairs are excluded by id_a < id_b) and counted
  conservatively in the occupancy table, documented index bloat;
- crash after the receipt (inserts durable, commit missing): replay
  sees the receipt, skips the inserts, recomputes and commits the
  identical decisions.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import DoubleType, LongType

from ai_fabric_etl_spark.operators.similarity import (
    emb_neardup_incremental,
    emb_neardup_index_insert,
)
from ai_fabric_etl_spark.streaming.admission_common import (
    Probed,
    decision_schema,
    one_slice,
    read_ledger,
    round6,
    run_gate,
    start_gate_stream,
    within_batch_dups,
)

DECISIONS = decision_schema("vec_id", dup_of=LongType(), cosine=DoubleType())


def _receipt_path(index_path: str, app_id: str | None, epoch_id: int) -> str:
    key = hashlib.sha256((app_id or "default").encode()).hexdigest()[:16]
    return os.path.join(index_path, "_receipts", f"{key}_{epoch_id}.json")


def admit_embeddings_batch(
    spark: SparkSession,
    emb_batch: DataFrame,
    index_path: str,
    state_dir: str,
    epoch_id: int,
    app_id: str | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 2000,
) -> bool:
    """One micro-batch admission. Also callable from batch jobs.
    Returns True when the epoch was processed, False on a replay of
    an already-committed epoch.

    Decision row per input vector:
    ``(vec_id, admitted, dup_of, cosine, epoch)`` — ``dup_of`` is the
    max-cosine (then min-id) index id for corpus duplicates, the
    component canonical for within-batch duplicates, NULL for
    admitted rows."""

    def probe(scratch: list) -> Probed:
        batch = emb_batch.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).persist()
        scratch.append(batch)
        pairs = emb_neardup_incremental(
            batch, index_path, threshold=threshold,
            id_col="vec_id", vec_col="embedding", max_bucket=max_bucket,
        )
        # LOCALIZE the decision-sized outputs: the verified pair list
        # is O(batch near-dups) by construction and the batch rows are
        # one micro-batch — membership classification, index rejects
        # and the within-batch graph run in plain Python. The
        # corpus-side machinery (map-side pruned probe + exact cosine
        # verify inside emb_neardup_incremental) stays distributed.
        batch_rows = [tuple(r) for r in batch.collect()]
        pair_rows = [tuple(r) for r in pairs.collect()]
        bids = {r[0] for r in batch_rows}

        # classify pair sides by id membership in the CURRENT batch;
        # corpus best = max struct (cosine, -other, other) — the
        # grouped tie-break — rounded AFTER the argmax
        best: dict = {}
        within_max: dict = {}
        for ia, ib, c in pair_rows:
            if ia in bids and ib in bids:
                # grouped, not raw: a prior crashed/converged attempt's
                # insert delivers the same pair via BOTH the batch
                # path and the index path — collapse duplicate edges
                k = (ia, ib)
                if k not in within_max or c > within_max[k]:
                    within_max[k] = c
                continue
            vec, other = (ia, ib) if ia in bids else (ib, ia)
            key = (c, -other, other)
            if vec not in best or key > best[vec]:
                best[vec] = key
        index_dups = {
            v: (other, round6(c)) for v, (c, _neg, other) in best.items()
        }

        def insert(admitted: list) -> None:
            # guarded by the per-epoch receipt, written after the
            # inserts and before the commit (module docstring)
            receipt = _receipt_path(index_path, app_id, epoch_id)
            if os.path.exists(receipt):
                return
            keep = set(admitted)
            emb_neardup_index_insert(
                one_slice(spark, [r for r in batch_rows if r[0] in keep],
                          batch.schema),
                index_path, id_col="vec_id", vec_col="embedding",
            )
            os.makedirs(os.path.dirname(receipt), exist_ok=True)
            with open(receipt, "w", encoding="utf-8") as fh:
                json.dump({"epoch": int(epoch_id),
                           "n_admitted": len(admitted)}, fh)

        return Probed(
            ids=[r[0] for r in batch_rows],
            index_dups=index_dups,
            batch_dups=within_batch_dups(
                [(a, b, round6(c)) for (a, b), c in within_max.items()],
                index_dups,
            ),
            insert=insert,
        )

    return run_gate(spark, state_dir, epoch_id, app_id, DECISIONS, probe)


def admit_embeddings_stream(
    stream: DataFrame,
    index_path: str,
    state_dir: str,
    checkpoint: str,
    threshold: float = 0.9,
    available_now: bool = True,
    maintenance_every: int | None = 50,
) -> StreamingQuery:
    """Wire the embedding gate into a streaming query; checkpoint
    identity and the maintenance tick (index keys/vecs deduped, and
    the ledger): see :func:`admission_common.start_gate_stream`."""
    admit = partial(
        admit_embeddings_batch, index_path=index_path, state_dir=state_dir,
        threshold=threshold,
    )
    return start_gate_stream(
        stream, admit, checkpoint, state_dir, [index_path],
        maintenance_every, available_now,
    )


def read_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All admission decisions so far (one row per vector seen)."""
    return read_ledger(spark, state_dir, DECISIONS)
