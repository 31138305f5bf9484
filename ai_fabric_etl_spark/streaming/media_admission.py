"""Streaming media admission: continuous near-duplicate gates over
image, AUDIO, and VIDEO streams, backed by the persisted perceptual
indexes.

The batch building blocks are operators/multimodal.py's incremental
paths (``phash_index_write/probe/insert`` for 64-bit image/audio
hashes, ``video_index_write/probe/insert`` for per-frame hashes —
O(batch) admission, the corpus is never re-hashed); this module is
their Structured-Streaming face: every micro-batch of media rows is
hashed, probed against the index, routed (admit /
reject-with-provenance), and the admitted hashes fold into the index
— so a training-data ingest keeps EVERY media modality near-dup-free
continuously instead of re-running corpus dedup per snapshot (r10
shipped image+text; r11 completes audio — same machinery, the index
trio is hash-agnostic — and video, whose gate is frame-aligned with
the ±max_shift offset window so head-trimmed re-uploads reject too).
The epoch replay guard, routing, insert-before-commit order and
ledger commit are the shared gate skeleton
(streaming/admission_common.run_gate); this module holds the image,
audio and video probes and inserts. The probe classifies an EXACT
same-id index match as "this batch's rows from a prior
partially-completed attempt" (a media id is unique in the stream, so
batch_id == index_id can only be the batch's own earlier insert):
those rows keep their admit decision and are NOT re-inserted.

Within-batch policy: one representative per near-dup component — the
component canonical (smallest id) is admitted, every other member is
rejected against it (see streaming/admission_common.py for the full
policy statement and the invariant that dup_of always names an
ADMITTED doc or an index id). Oversize-bucket policy is inherited
from the probe (raise by default — see multimodal.phash_index_probe).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import IntegerType, LongType

from ai_fabric_etl_spark.operators import multimodal
from ai_fabric_etl_spark.streaming.admission_common import (
    Probed,
    decision_schema,
    local_phash_within,
    one_slice,
    overlap,
    read_ledger,
    run_gate,
    start_gate_stream,
    within_batch_dups,
)

_PROVENANCE = {"dup_of": LongType(), "hamming": IntegerType()}
_VIDEO_PROVENANCE = {
    "dup_of": LongType(), "matched_frames": LongType(), "shift": IntegerType(),
}


def _hash_batch(
    media_batch: DataFrame,
    modality: str,
    fake: bool,
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """(id, dhash) for the modality's 64-bit perceptual hash — the
    index machinery is hash-agnostic, so audio fingerprints ride the
    same trio under the index's canonical column name. on_error='null'
    keeps one row per INPUT id (NULL hash for undecodable payloads):
    the gate quarantines them instead of letting a poison payload fail
    the micro-batch forever, and the decision rows can ride this one
    persisted frame — no second pass over the batch source."""
    if modality == "image":
        return multimodal.dhash64(
            media_batch, fake=fake, id_col=id_col, payload_col=payload_col,
            on_error="null",
        )
    if modality == "audio":
        return multimodal.audio_fp64(
            media_batch, fake=fake, id_col=id_col, payload_col=payload_col,
            on_error="null",
        ).withColumnRenamed("afp", "dhash")
    raise ValueError(
        f"modality must be 'image' or 'audio', got {modality!r} "
        "(video has its own frame-aligned gate: admit_video_batch)"
    )


def _phash_outcome(probe_rows: list, presence: list, decoded: set):
    """``(self_set, index_dups)`` from a pHash probe's collected
    ``(batch_id, index_id, hamming)`` rows — shared with the paired
    gate's image side.

    batch_id == index_id can only be this batch's own row from a
    prior attempt that crashed between index insert and the epoch
    commit: keep its (admitted) decision, skip its re-insert — but
    ONLY when the id's insert is COMPLETE (all 4 chunk rows durable):
    the partitioned append is not atomic across (ci, cb) dirs, so a
    crash mid-insert can leave 1-3 chunk rows, and skipping on any
    single chunk match would permanently under-index the id. A
    partial id re-inserts in full — the rows already present become
    exact duplicates, which the probe de-duplicates (candidate
    .distinct()) and compact_index removes. Completeness comes from
    the probe's ``presence`` frame (phash_index_presence semantics
    riding the probe's own pruned scan — pre-hot-filter, so exact in
    every oversize mode), COLLECTED ONLY when a self candidate
    appears: the steady-state batch pays no presence job at all.

    Corpus duplicates exclude ALL matches whose index id is in the
    current batch (not just same-id): such a row is the batch's own
    insert from a prior crashed attempt, and classifying it as a
    corpus dup would remove its edges from the within-batch graph and
    make the decisions depend on the crash interleaving. Best match =
    min (hamming, index_id), the probe's tie-break; ``index_dups``
    maps ``batch_id -> (index_id, hamming)``."""
    self_cand = {b for (b, ix, _h) in probe_rows if b == ix}
    n_chunks = (
        {r[0]: r[1] for r in presence[0].collect()} if self_cand else {}
    )
    self_set = {b for b in self_cand if n_chunks.get(b, 0) >= 4}
    best: dict = {}
    for b, ix, hm in probe_rows:
        if ix in decoded:
            continue
        key = (hm, ix)
        if b not in best or key < best[b]:
            best[b] = key
    return self_set, {b: (ix, hm) for b, (hm, ix) in best.items()}


def _insert_hashes(
    spark: SparkSession, index_path: str, ids: list, hash_rows: list,
    id_col: str,
) -> None:
    """Insert ``ids``' 64-bit hashes into a pHash index as a ONE-SLICE
    driver-local frame (never a plan reading the index path)."""
    h_by = dict(hash_rows)
    multimodal.phash_index_insert(
        spark, index_path,
        one_slice(spark, [(i, h_by[i]) for i in ids],
                  f"{id_col} long, dhash long"),
        id_col=id_col,
    )


def admit_media_batch(
    spark: SparkSession,
    media_batch: DataFrame,
    index_path: str,
    state_dir: str,
    epoch_id: int,
    app_id: str | None = None,
    max_hamming: int = 3,
    fake: bool = False,
    id_col: str = "media_id",
    payload_col: str = "payload",
    modality: str = "image",
) -> bool:
    """One micro-batch admission. Also callable from batch jobs.
    Returns True when the epoch was processed, False when it was a
    replay of an already-committed epoch (callers use this to skip
    post-commit work such as the maintenance tick).

    ``modality`` selects the 64-bit hasher — ``"image"`` (dHash) or
    ``"audio"`` (energy-trend fingerprint); everything downstream
    (index trio, banding, component policy, epoch/crash discipline)
    is hash-agnostic and identical. Decision row per input media id:
    ``(media_id, admitted, dup_of, hamming, epoch)`` — ``dup_of`` is
    the min-hamming (then min-id) index id for corpus duplicates, the
    component canonical (an ADMITTED smaller batch id) for
    within-batch duplicates, NULL for admitted rows. An UNDECODABLE
    payload (no hash row) quarantines: ``admitted=false`` with NULL
    ``dup_of`` — the only rejected shape without provenance, so it is
    distinguishable from every dup rejection."""

    def probe(scratch: list) -> Probed:
        # one row per INPUT id; NULL dhash = undecodable (quarantine),
        # so the decisions cover every input id without re-reading
        # the batch source
        hashes = _hash_batch(
            media_batch, modality, fake, id_col, payload_col
        ).persist()
        scratch.append(hashes)
        presence: list = []
        probe_df = multimodal.phash_index_probe(
            spark, index_path, hashes.filter(F.col("dhash").isNotNull()),
            max_hamming=max_hamming, id_col=id_col,
            scratch=scratch, presence_out=presence,
        )
        # LOCALIZE the probe outputs: everything from here to the
        # insert is micro-batch-sized by construction (one row per
        # input id / per probe match) and must be collected before the
        # insert (recacheByPath); self-detection, index rejects, the
        # within-batch pair graph and components then run in plain
        # Python (the index-side probe scan stays distributed)
        hash_rows = [
            (r[0], r[1]) for r in hashes.select(id_col, "dhash").collect()
        ]
        probe_rows = [tuple(r) for r in probe_df.collect()]
        decoded = {i for i, h in hash_rows if h is not None}
        self_set, index_dups = _phash_outcome(probe_rows, presence, decoded)
        pairs = local_phash_within(
            [(i, h) for i, h in hash_rows if h is not None],
            max_hamming=max_hamming, what=f"admit_media_batch:{modality}",
        )
        return Probed(
            ids=[i for i, _h in hash_rows],
            index_dups=index_dups,
            batch_dups=within_batch_dups(pairs, index_dups),
            insert=lambda admitted: _insert_hashes(
                spark, index_path,
                [i for i in admitted if i not in self_set], hash_rows, id_col,
            ),
            decoded=decoded,
        )

    return run_gate(
        spark, state_dir, epoch_id, app_id,
        decision_schema(id_col, **_PROVENANCE), probe,
    )


def admit_media_stream(
    stream: DataFrame,
    index_path: str,
    state_dir: str,
    checkpoint: str,
    max_hamming: int = 3,
    fake: bool = False,
    available_now: bool = True,
    modality: str = "image",
    maintenance_every: int | None = 50,
) -> StreamingQuery:
    """Wire the image (or audio) gate into a streaming query;
    checkpoint identity and the maintenance tick (index and ledger):
    see :func:`admission_common.start_gate_stream`."""
    admit = partial(
        admit_media_batch, index_path=index_path, state_dir=state_dir,
        max_hamming=max_hamming, fake=fake, modality=modality,
    )
    return start_gate_stream(
        stream, admit, checkpoint, state_dir, [index_path],
        maintenance_every, available_now,
    )


def admit_audio_batch(*args, **kwargs) -> bool:
    """:func:`admit_media_batch` with the audio fingerprint hasher —
    the continuous-admission face of audio near-dup (audio was
    otherwise batch-only: a training ingest re-ran corpus-vs-corpus
    dedup per snapshot)."""
    kwargs["modality"] = "audio"
    return admit_media_batch(*args, **kwargs)


def admit_audio_stream(*args, **kwargs) -> StreamingQuery:
    """:func:`admit_media_stream` over audio fingerprints."""
    kwargs["modality"] = "audio"
    return admit_media_stream(*args, **kwargs)


def read_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All admission decisions so far (one row per media id seen)."""
    return read_ledger(
        spark, state_dir, decision_schema("media_id", **_PROVENANCE)
    )


# ---------------------------------------------------------------------------
# video admission: frame-aligned, backed by the video frame-hash index
# ---------------------------------------------------------------------------


def admit_video_batch(
    spark: SparkSession,
    media_batch: DataFrame,
    index_path: str,
    state_dir: str,
    epoch_id: int,
    app_id: str | None = None,
    max_hamming: int = 3,
    min_frames: int = 2,
    max_shift: int = 2,
    every_n: int = 1,
    fake: bool = False,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> bool:
    """One micro-batch of VIDEO admission — same epoch/crash/ordering
    discipline as :func:`admit_media_batch`, but per-frame: the batch
    decodes once into frame dHashes, probes the persisted frame index
    at every offset in [-max_shift, +max_shift]
    (multimodal.video_index_probe — head-trimmed re-uploads of an
    indexed clip are duplicates too), resolves within-batch pairs
    with the component policy (video_near_pairs edges), and folds the
    admitted clips' frame hashes into the index BEFORE the epoch
    commit. Decision row:
    ``(media_id, admitted, dup_of, matched_frames, shift, epoch)`` —
    matched_frames/shift are the winning alignment's evidence, NULL
    for admitted rows and for transitive within-batch members."""

    def probe(scratch: list) -> Probed:
        # on_error='null': a corrupt/unsniffable clip emits no frame
        # rows (symmetric with the image/audio hashers' policy) and
        # quarantines through the zero-frame decision path
        fh = multimodal.video_frame_hashes(
            media_batch, every_n=every_n, fake=fake,
            id_col=id_col, payload_col=payload_col, on_error="null",
        ).persist()
        scratch.append(fh)
        presence: list = []
        out: dict = {}

        # LOCALIZE the decision-sized outputs: the frame-hash rows,
        # the probe's alignment matches and the within-batch pair
        # list (video_near_pairs — the frame-alignment machinery
        # itself STAYS distributed) are all micro-batch-sized. The
        # read-only chains are INDEPENDENT (batch ids need only the
        # source; the probe and the within-batch alignment both read
        # the persisted fh), so their jobs OVERLAP: ids run while
        # probe construction (its touched collect) decodes fh, then
        # the probe and alignment collects run side by side.
        def ids() -> None:
            out["ids"] = {
                r[0] for r in media_batch.select(id_col).distinct().collect()
            }

        def probe_and_pairs() -> None:
            probe_df = multimodal.video_index_probe(
                spark, index_path, fh, max_hamming=max_hamming,
                min_frames=min_frames, max_shift=max_shift, id_col=id_col,
                scratch=scratch, presence_out=presence,
            )
            overlap(
                lambda: out.update(
                    probe=[tuple(r) for r in probe_df.collect()]
                ),
                lambda: out.update(pairs=[
                    tuple(r) for r in multimodal.video_near_pairs(
                        fh, max_hamming=max_hamming, min_frames=min_frames,
                        max_shift=max_shift, id_col=id_col,
                    ).collect()
                ]),
            )

        overlap(ids, probe_and_pairs)
        fh_rows = [
            tuple(r) for r in fh.select(id_col, "frame_idx", "fhash").collect()
        ]
        decoded = {r[0] for r in fh_rows}
        # self-detection requires the id's insert to be COMPLETE
        # (every (frame_idx, chunk) row durable): a partial insert
        # re-inserts in full, duplicates are probe-harmless. The
        # presence values ride the probe's own pruned scan and are
        # collected only when a self candidate appears (crash replay).
        self_cand = {b for (b, ix, _nm, _s) in out["probe"] if b == ix}
        pres = (
            {r[0]: (r[1], r[2]) for r in presence[0].collect()}
            if self_cand else {}
        )
        self_set = {
            b for b in self_cand if b in pres and pres[b][0] >= pres[b][1]
        }
        # exclude ALL matches against this batch's own ids (a prior
        # crashed attempt's insert) — interleaving invariance; best
        # match = max struct (n_matching_frames, -index_id, index_id,
        # shift), the probe's tie-break
        best: dict = {}
        for b, ix, nm, sh in out["probe"]:
            if ix in decoded:
                continue
            key = (nm, -ix, ix, sh)
            if b not in best or key > best[b]:
                best[b] = key
        index_dups = {
            b: (ix, nm, sh) for b, (nm, _neg, ix, sh) in best.items()
        }

        def insert(admitted: list) -> None:
            keep = set(admitted) - self_set
            multimodal.video_index_insert(
                spark, index_path,
                one_slice(spark, [r for r in fh_rows if r[0] in keep],
                          f"{id_col} long, frame_idx int, fhash long"),
                id_col=id_col,
            )

        # decisions cover EVERY input clip: a payload that decodes to
        # zero frames yields no frame-hash rows and quarantines
        return Probed(
            ids=sorted(out["ids"]),
            index_dups=index_dups,
            batch_dups=within_batch_dups(out["pairs"], index_dups),
            insert=insert,
            decoded=decoded,
        )

    return run_gate(
        spark, state_dir, epoch_id, app_id,
        decision_schema(id_col, **_VIDEO_PROVENANCE), probe,
    )


def admit_video_stream(
    stream: DataFrame,
    index_path: str,
    state_dir: str,
    checkpoint: str,
    max_hamming: int = 3,
    min_frames: int = 2,
    max_shift: int = 2,
    fake: bool = False,
    available_now: bool = True,
    maintenance_every: int | None = 50,
) -> StreamingQuery:
    """Wire the video gate into a streaming query; checkpoint identity
    and the maintenance tick: see
    :func:`admission_common.start_gate_stream`."""
    admit = partial(
        admit_video_batch, index_path=index_path, state_dir=state_dir,
        max_hamming=max_hamming, min_frames=min_frames,
        max_shift=max_shift, fake=fake,
    )
    return start_gate_stream(
        stream, admit, checkpoint, state_dir, [index_path],
        maintenance_every, available_now,
    )


def read_video_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All video admission decisions so far (one row per clip seen)."""
    return read_ledger(
        spark, state_dir, decision_schema("media_id", **_VIDEO_PROVENANCE)
    )
