"""The one admission-gate skeleton shared by every streaming gate
(text MinHash, image/audio pHash, video frame hashes, text+image
pairs, embedding LSH) and their within-batch rejection policy.

What this module owns, once each:

- :func:`run_gate` — the fold of one micro-batch: the epoch replay
  guard (epoch ids ride the decision ledger's pointer, scoped to the
  stream's checkpoint identity; a replayed epoch skips), the
  modality's probe, the routing of every input id to index-reject,
  component-reject, quarantine or admit, the modality's index
  inserts, and the one-slice ledger commit — in that order;
- :func:`decision_schema` — a ledger's row schema, ``(id, admitted,
  *provenance columns, epoch)``;
- :func:`start_gate_stream` — the ``foreachBatch`` wiring, the
  scheduled maintenance tick on processed epochs and the
  ``availableNow`` trigger;
- :func:`read_ledger` — the ledger read-back;
- :func:`within_batch_dups` and the driver-local twins it rests on
  (:func:`local_text_within`, :func:`local_phash_within`,
  :func:`resolve_local_components`, :func:`round6`).

A modality module keeps only what differs: its probe (hash or sign
the batch, probe its index, localize the decision-sized outputs), its
insert order, and its decision columns.

Crash-window discipline (the index inserts and the ledger commit live
in different stores and cannot be one atomic swap): the inserts run
FIRST, the commit LAST. A crash after the inserts replays the epoch
(the guard has not advanced) and each probe recognizes the batch's
own durable rows — an index row carrying a current batch id can only
be this batch's insert from a prior attempt, since ids are unique in
the stream — so they keep their decision and are not re-inserted. The
reverse order would be unrecoverable: a committed epoch skips on
replay, and its admitted rows would be lost from the index forever.

Policy — ONE REPRESENTATIVE PER NEAR-DUP COMPONENT: the batch's
near-pair graph (restricted to docs that survived the corpus probe)
is resolved with connected components; the smallest id in each
component is admitted, every other member is rejected with the
canonical as ``dup_of``. The earlier "any smaller-id near-dup
rejects" rule was non-greedy over chains: with A~B and B~C (A not ~
C), it rejected C with dup_of=B even though B itself was rejected.
Under the component rule the invariant is mechanical: EVERY rejected
row's ``dup_of`` is an ADMITTED doc (the component canonical) or an
index id. Chains still over-delete relative to greedy first-wins (C
rejects against A even without a direct A~C pair — the conservative
choice, and exactly the semantics of the batch path's
``dedup.drop_near_duplicates``); the metric column carries the DIRECT
pair's value when the member is directly paired with its canonical,
NULL on transitive chains.

Scale: the edge list is micro-batch-sized by construction (pairs
among one micro-batch's probe survivors — the corpus never enters),
so the components run as a DRIVER-SIDE union-find over the collected
edges; a distributed log-round star contraction here scheduled
several Spark jobs per batch over a graph of at most thousands of
edges. The corpus-scale component machinery
(dedup.neardup_components) serves the batch dedup family; a batch
that outgrows the localization contract fails loudly
(MAX_LOCAL_EDGES) rather than silently OOMing the driver.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BooleanType,
    DataType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ai_fabric_etl_spark.operators.maintenance import maintenance_tick
from ai_fabric_etl_spark.operators.merge import ParquetMergeTable

# Localized (driver-side) edge-list ceiling: admission micro-batches
# are trigger-bounded (thousands of items -> at most low-millions of
# survivor edges); past this the caller's batch sizing is wrong, not
# this policy (see the guard below).
MAX_LOCAL_EDGES = 2_000_000


@dataclass
class Probed:
    """What a modality's probe hands :func:`run_gate`: driver-local,
    micro-batch-sized outcomes of one batch against its index."""

    ids: list  # every input id, in decision-row order
    index_dups: dict  # id -> provenance columns of a corpus duplicate
    batch_dups: dict  # id -> provenance columns of a component member
    # writes the admitted ids' index rows (admitted ids in row order)
    insert: Callable[[list], None]
    decoded: set | None = None  # ids outside it quarantine; None = all
    quarantine: tuple | None = None  # quarantine provenance; None = NULLs


def decision_schema(id_col: str, **cols: DataType) -> StructType:
    """A decision ledger's row schema: ``(id_col, admitted, *cols,
    epoch)``, the provenance ``cols`` nullable."""
    return StructType([
        StructField(id_col, LongType(), True),
        StructField("admitted", BooleanType(), False),
        *[StructField(c, t, True) for c, t in cols.items()],
        StructField("epoch", IntegerType(), False),
    ])


def run_gate(
    spark: SparkSession,
    state_dir: str,
    epoch_id: int,
    app_id: str | None,
    schema: StructType,
    probe: Callable[[list], Probed],
) -> bool:
    """One micro-batch through the gate skeleton. Returns True when
    the epoch was processed, False on a replay of an already-committed
    epoch (stream callers skip post-commit work such as the
    maintenance tick).

    ``probe(scratch)`` is the modality's half; every frame it persists
    goes into ``scratch`` and is released after the commit. Decision
    row per id: ``(id, False, *index_dups[id], epoch)`` for a corpus
    duplicate, ``(id, False, *batch_dups[id], epoch)`` for a
    within-batch duplicate, ``(id, True, NULL..., epoch)`` for an
    admitted id, and ``(id, False, *quarantine, epoch)`` for an id
    outside ``decoded`` — an undecodable payload, the only rejected
    shape without ``dup_of`` provenance."""
    table = ParquetMergeTable(spark, state_dir)
    last = table.last_epoch(app_id)
    if last is not None and epoch_id <= last:
        return False  # replayed epoch — already decided
    scratch: list = []
    p = probe(scratch)

    e = int(epoch_id)
    nulls = (None,) * (len(schema.fields) - 3)
    rows = []
    for i in p.ids:
        if i in p.index_dups:
            rows.append((i, False, *p.index_dups[i], e))
        elif i in p.batch_dups:
            rows.append((i, False, *p.batch_dups[i], e))
        elif p.decoded is None or i in p.decoded:
            rows.append((i, True, *nulls, e))
        else:
            rows.append((i, False, *(p.quarantine or nulls), e))

    # ORDERING INVARIANT: the index inserts happen BEFORE the epoch
    # commit (see the module docstring).
    p.insert([r[0] for r in rows if r[1]])
    # one-slice localized frame: the decision rows are already on the
    # driver, and a default createDataFrame would scatter them over
    # defaultParallelism partitions whose single-file rewrite costs
    # ~10x the write itself (see merge.append's n_files note). The
    # O(batch) commit's new version holds ONLY this batch's decision
    # file; its full file set is its manifest. retain=2 bounds
    # retained versions; maintenance_tick compacts the file count.
    table.append(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
        epoch=epoch_id, app_id=app_id, retain=2, n_files=None,
    )
    for fr in scratch:
        fr.unpersist()
    return True


def start_gate_stream(
    stream: DataFrame,
    admit: Callable[..., bool],
    checkpoint: str,
    state_dir: str,
    index_paths: list[str],
    maintenance_every: int | None,
    available_now: bool,
) -> StreamingQuery:
    """Wire a gate into a streaming query. ``admit(spark, batch_df,
    epoch_id=, app_id=)`` is the gate's ``admit_*_batch`` with its
    paths and options bound. The checkpoint location is the
    epoch-guard app identity (a restart on the same checkpoint resumes
    exactly-once; a fresh checkpoint resets).

    ``maintenance_every`` (every gate defaults to 50: a stream that
    never compacts grows per-leaf file counts and manifest bytes
    without bound; ``None``/0 opts out): every N-th PROCESSED epoch,
    compact ``index_paths`` and the decision ledger between
    micro-batches (maintenance.maintenance_tick — decisions are
    byte-identical across a compaction). Replayed epochs skip the
    tick, so a restart never pays O(index) compaction for an epoch it
    did not process."""
    spark = stream.sparkSession

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if admit(spark, batch_df, epoch_id=epoch_id, app_id=checkpoint):
            maintenance_tick(
                spark, epoch_id, maintenance_every, index_paths, state_dir
            )

    writer = stream.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_ledger(
    spark: SparkSession, state_dir: str, schema: StructType
) -> DataFrame:
    """All decisions so far (one row per id seen), in ``schema``'s
    column order."""
    return ParquetMergeTable(spark, state_dir).read().select(
        *schema.fieldNames()
    )


def one_slice(spark, rows: list, schema) -> DataFrame:
    """One-partition localized DataFrame of batch-sized rows (the
    gates' insert sets). Localizing matters twice over: (a) a default
    createDataFrame scatters tiny lists over defaultParallelism
    partitions (see merge.append's n_files note), and (b) a LAZY
    insert set ties its plan to the index parquet paths, so the first
    index append invalidates it (Spark recacheByPath) and every later
    append re-runs the whole probe subtree against the GROWN index."""
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def overlap(*chains: Callable[[], None]) -> None:
    """Run independent read-only (or disjoint-store) driver chains on
    their own threads, so their Spark jobs overlap instead of
    serializing (actions are only sequential because driver code
    calls them sequentially); re-raises the first failure in
    argument order."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futs = [pool.submit(inheritable_thread_target(c)) for c in chains]
        for f in futs:
            f.result()


def within_batch_dups(pairs: list, index_dups: dict, decoded=None) -> dict:
    """``{id: (canon, *metrics)}`` for every non-canonical member of a
    within-batch near-dup component over the edge list ``pairs`` =
    ``[(a, b, *metrics)]``. Edges are restricted to probe survivors on
    both sides — an index duplicate keeps its index provenance and
    must not stitch two otherwise-unrelated survivors together — and,
    given ``decoded``, to decoded ids on both sides (a quarantined id
    must never become a component canonical)."""
    surv = [
        r for r in pairs
        if r[0] not in index_dups and r[1] not in index_dups
        and (decoded is None or (r[0] in decoded and r[1] in decoded))
    ]
    n_metrics = len(pairs[0]) - 2 if pairs else 0
    return {
        r[0]: r[1:] for r in resolve_local_components(surv, n_metrics)
    }


def round6(x: float) -> float:
    """Driver-side twin of ``F.round(col, 6)`` on a double: Spark
    rounds through ``BigDecimal.valueOf(x).setScale(6, HALF_UP)``,
    i.e. HALF_UP over the shortest decimal representation — NOT
    Python's banker's ``round``. The gates' localized within-batch
    metrics must round identically to the batch operators' plans or
    stream==batch parity (and the value oracles) drift by one ulp on
    ties."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"),
                                  rounding=ROUND_HALF_UP)
    )


def local_jaccard(ha, hb) -> float | None:
    """Driver-side twin of dedup._exact_jaccard's expression over two
    hashed-shingle arrays: ``size(array_intersect)`` counts DISTINCT
    common elements while ``size(hs)`` counts the raw array length —
    replicated exactly (a NULL side or a 0/0 division is NULL in the
    plan, None here)."""
    if ha is None or hb is None:
        return None
    inter = len(set(ha) & set(hb))
    union = len(ha) + len(hb) - inter
    if union == 0:
        return None
    return inter / union


def local_text_within(sig_rows, bk_rows, hot_bb, threshold) -> list:
    """The within-batch text pairs of ONE micro-batch, on the driver:
    candidates are pairs sharing any non-hot (band, bucket) LSH key,
    verified with exact Jaccard over the hashed shingle sets.
    ``sig_rows`` = collected (doc_id, hs[, ...]) rows, ``bk_rows`` =
    collected (doc_id, band, bucket) rows, ``hot_bb`` = the
    index-occupancy hot (band, bucket) set. Returns
    ``[(doc_a, doc_b, jaccard)]`` with doc_a < doc_b — the pair set
    and float values of a distributed band self-join plus exact
    Jaccard, without its ~6 micro-stages of shuffle scheduling per
    batch (measured ~5s of the paired gate's wall at sf0.1).
    Batch-sized by construction."""
    from collections import defaultdict

    hs_by = {r[0]: r[1] for r in sig_rows}
    bb = defaultdict(set)
    for d, band, bucket in bk_rows:
        if (band, bucket) in hot_bb:
            continue
        bb[(band, bucket)].add(d)
    cand: set = set()
    for members in bb.values():
        if len(members) < 2:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
        if len(cand) > MAX_LOCAL_EDGES:
            raise RuntimeError(
                f"local_text_within: {len(cand)} candidate pairs exceed "
                f"MAX_LOCAL_EDGES={MAX_LOCAL_EDGES}; shrink the "
                "micro-batch"
            )
    out = []
    for a, b in cand:
        j = local_jaccard(hs_by.get(a), hs_by.get(b))
        if j is not None and j >= threshold:
            out.append((a, b, j))
    return out


def _rem48_py(u: int, ci: int) -> int:
    """Python twin of multimodal._rem48 over the unsigned 64-bit form."""
    if ci == 0:
        return u >> 16
    if ci == 3:
        return u & ((1 << 48) - 1)
    return (u & ((1 << (16 * ci)) - 1)) | ((u >> (16 * (ci + 1))) << (16 * ci))


def local_phash_within(
    hash_rows,
    max_hamming: int = 3,
    max_bucket: int = 2000,
    on_oversize: str = "raise",
    stats_out: dict | None = None,
    what: str = "local_phash_within",
) -> list:
    """Driver-side twin of multimodal.phash_near_pairs for ONE
    micro-batch's collected ``(id, hash64)`` rows: 16-bit-chunk
    pigeonhole candidates, hot buckets re-split on the four 12-bit
    sub-chunks of the remaining 48 bits, sub-buckets still over
    ``max_bucket`` raise (or drop with counters) — the identical
    policy, pair set and hamming values, minus the per-batch
    shuffle-stage scheduling. Returns ``[(id_a, id_b, hamming)]``
    with id_a < id_b."""
    from collections import defaultdict

    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"chunk banding holds for max_hamming in [0, 3], got {max_hamming}"
        )
    if on_oversize not in ("raise", "drop"):
        raise ValueError(
            f"on_oversize must be 'raise' or 'drop', got {on_oversize!r}"
        )
    rows = [(i, h & 0xFFFFFFFFFFFFFFFF) for i, h in hash_rows]
    buckets = defaultdict(list)
    for i, u in rows:
        for ci in range(4):
            buckets[(ci, (u >> (16 * ci)) & 0xFFFF)].append((i, u))
    pairs: dict = {}

    def emit(members) -> None:
        ms = sorted(members)
        for x in range(len(ms)):
            ia, ha = ms[x]
            for y in range(x + 1, len(ms)):
                ib, hb = ms[y]
                d = bin(ha ^ hb).count("1")
                if d <= max_hamming:
                    pairs[(ia, ib) if ia < ib else (ib, ia)] = d
        if len(pairs) > MAX_LOCAL_EDGES:
            raise RuntimeError(
                f"{what}: {len(pairs)} within-batch pairs exceed "
                f"MAX_LOCAL_EDGES={MAX_LOCAL_EDGES}; shrink the micro-batch"
            )

    hot_buckets = 0
    dropped_sb = dropped_rows = 0
    for (ci, _cv), members in buckets.items():
        if len(members) <= max_bucket:
            emit(members)
            continue
        hot_buckets += 1
        sub = defaultdict(list)
        for i, u in members:
            rem = _rem48_py(u, ci)
            for s in range(4):
                sub[(s, (rem >> (12 * s)) & 0xFFF)].append((i, u))
        for sm in sub.values():
            if len(sm) > max_bucket:
                if on_oversize == "raise":
                    raise ValueError(
                        f"{what}: banding bucket exceeds "
                        f"max_bucket={max_bucket} (hot chunk value) — "
                        "exact-dedup the media first, raise max_bucket, "
                        "or pass on_oversize='drop'"
                        f" (observed bucket size {len(sm)})"
                    )
                dropped_sb += 1
                dropped_rows += len(sm)
                continue
            emit(sm)
    if on_oversize == "drop" and stats_out is not None:
        stats_out["hot_buckets"] = hot_buckets
        stats_out["dropped_subbuckets"] = dropped_sb
        stats_out["dropped_rows"] = dropped_rows
    return [(a, b, d) for (a, b), d in pairs.items()]


def resolve_local_components(rows: list, n_metrics: int) -> list:
    """Union-find with min-id rooting over an already-localized edge
    list ``[(a, b, *metrics)]`` — the core of :func:`within_batch_dups`.
    Returns one
    ``(node, canon, *metrics)`` tuple per NON-canonical member; the
    metrics carry the DIRECT (canon, member) edge's values, None on
    transitive chains."""
    if len(rows) > MAX_LOCAL_EDGES:
        raise RuntimeError(
            f"resolve_local_components: {len(rows)} within-batch near-dup "
            f"edges exceed MAX_LOCAL_EDGES={MAX_LOCAL_EDGES}. The "
            "admission gates localize the batch's survivor edge list on "
            "the driver; shrink the micro-batch (maxFilesPerTrigger / "
            "maxOffsetsPerTrigger) or pre-dedup the feed."
        )
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    direct = {(r[0], r[1]): tuple(r)[2:] for r in rows}
    nulls = (None,) * n_metrics
    out = []
    for node in parent:
        canon = find(node)
        if node == canon:
            continue  # the canonical is admitted, never emitted
        out.append((node, canon) + direct.get((canon, node), nulls))
    return out
