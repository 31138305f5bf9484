"""Cross-modal PAIRED admission: a (document text, image) pair gate
that admits only when BOTH modalities are novel — the multimodal
training-pair curation shape (LAION-style caption+image corpora dedup
on either side: the same caption re-used for a new image, or the same
image re-captioned, are both duplicates a contrastive pair corpus
must reject).

One decision, one epoch guard, two indexes: the pair's text probes
the MinHash LSH index (streaming/text_admission machinery) and its
image probes the perceptual-hash index (streaming/media_admission
machinery) IN THE SAME TRANSACTION; rejection provenance names which
modality matched (``reject_modality``: 'text' / 'image' / 'both' for
index or direct within-batch matches, 'chain' for transitive
within-batch component members). Within-batch policy is the shared
component rule (admission_common) over the UNION of the two
modalities' pair graphs — a pair is near-duplicate if EITHER side
matches, so the union graph is the right adjacency for the
one-representative-per-component policy, and every rejected pair's
``dup_of`` names an ADMITTED pair or index ids.

Write order (crash-window convergence, one epoch for both indexes):
text sigs -> text bands -> image chunks -> decisions commit. Text
self-detection keys on band rows, image self-detection on same-id
probe matches, and each modality re-inserts independently on replay —
so a crash between ANY two writes converges: whichever half is
already durable is skipped, whichever is missing is re-inserted, and
corpus-dup classification excludes all current-batch ids (the
interleaving-invariance rule both single-modality gates follow).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType

from ai_fabric_etl_spark.operators import multimodal
from ai_fabric_etl_spark.streaming.admission_common import (
    Probed,
    decision_schema,
    local_phash_within,
    overlap,
    read_ledger,
    round6,
    run_gate,
    start_gate_stream,
    within_batch_dups,
)
from ai_fabric_etl_spark.streaming.media_admission import (
    _insert_hashes,
    _phash_outcome,
)
from ai_fabric_etl_spark.streaming.text_admission import (
    _insert_text,
    _text_probe,
)

_PROVENANCE = {
    "reject_modality": StringType(),
    "text_dup_of": LongType(), "text_jaccard": DoubleType(),
    "image_dup_of": LongType(), "image_hamming": IntegerType(),
}
DECISIONS = decision_schema("pair_id", **_PROVENANCE)


def _modality(text_side, image_side) -> str:
    """Which side(s) of a rejected pair matched: 'both', 'text',
    'image', or 'chain' (a transitive component member with no direct
    edge to its canonical)."""
    if text_side is not None and image_side is not None:
        return "both"
    if text_side is not None:
        return "text"
    return "image" if image_side is not None else "chain"


def admit_pairs_batch(
    spark: SparkSession,
    pairs_batch: DataFrame,
    text_index_path: str,
    image_index_path: str,
    state_dir: str,
    epoch_id: int,
    app_id: str | None = None,
    id_col: str = "pair_id",
    text_col: str = "text",
    payload_col: str = "payload",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    fake: bool = False,
) -> bool:
    """One micro-batch of paired admission. Also callable from batch
    jobs. ``pairs_batch`` carries ``(pair_id, text, payload)``; the
    pair id is the unit of admission for BOTH indexes (the text index
    stores it as doc_id, the image index as media_id — one id space).

    Decision row per input pair: ``(pair_id, admitted,
    reject_modality, text_dup_of, text_jaccard, image_dup_of,
    image_hamming, epoch)`` — for within-batch rejects both dup_of
    columns name the component canonical (an ADMITTED pair), with the
    per-modality metric NULL when that modality has no direct edge to
    the canonical."""

    def probe(scratch: list) -> Probed:
        # the two modality probes are INDEPENDENT read-only chains
        # (text: sign + band-prune + exact-Jaccard verify; image:
        # decode + hash + statically-pruned chunk probe) with no write
        # in either — their Spark jobs overlap on two driver threads.
        # Each LOCALIZES its probe's decision-sized outputs; everything
        # after the join is plain Python over micro-batch-sized rows
        # (index rejects, the within-batch union graph, components,
        # the decision rows) instead of ~12 micro-stages of per-batch
        # shuffle scheduling. The corpus-side machinery stays
        # distributed.
        out: dict = {}
        i_scratch: list = []

        def text_side() -> None:
            out["t"] = _text_probe(
                spark, text_index_path,
                pairs_batch.select(F.col(id_col).alias("doc_id"), text_col),
                text_col, threshold, num_hashes, bands, n, max_bucket,
                on_oversize="raise", stats_out=None, what="admit_pairs_batch",
                scratch=scratch,
            )

        def image_side() -> None:
            # one row per INPUT pair; NULL dhash = undecodable image
            # payload (quarantine — a poison pair must not fail the batch)
            hashes = multimodal.dhash64(
                pairs_batch, fake=fake, id_col=id_col, payload_col=payload_col,
                on_error="null",
            ).withColumnRenamed(id_col, "doc_id").persist()
            i_scratch.append(hashes)
            out["hash_rows"] = [
                tuple(r) for r in hashes.select("doc_id", "dhash").collect()
            ]
            presence: list = []
            probe_df = multimodal.phash_index_probe(
                spark, image_index_path,
                hashes.filter(F.col("dhash").isNotNull()),
                max_hamming=max_hamming, id_col="doc_id",
                scratch=i_scratch, presence_out=presence,
            )
            out["decoded"] = {
                i for i, h in out["hash_rows"] if h is not None
            }
            out["img"] = _phash_outcome(
                [tuple(r) for r in probe_df.collect()], presence,
                out["decoded"],
            )

        overlap(text_side, image_side)
        scratch.extend(i_scratch)
        t, hash_rows, decoded = out["t"], out["hash_rows"], out["decoded"]
        i_self_set, i_dups = out["img"]

        # index rejections: EITHER modality matching rejects
        idx: dict = {d: [dup, j, None, None]
                     for d, (dup, j) in t.index_dups.items()}
        for d, (ix, hm) in i_dups.items():
            idx.setdefault(d, [None, None, None, None])[2:] = [ix, hm]
        index_dups = {
            d: (_modality(td, im), td, tj, im, ih)
            for d, (td, tj, im, ih) in idx.items()
        }

        # within-batch: component policy over the UNION of the two
        # modalities' pair graphs, restricted to DECODED pairs — a
        # quarantined pair's text side still produces edges, and as a
        # component minimum it would become the canonical
        em: dict = {}
        for a, b, j in t.edges:
            em.setdefault((a, b), [None, None])[0] = round6(j)
        for a, b, hm in local_phash_within(
            [(i, h) for i, h in hash_rows if h is not None],
            max_hamming=max_hamming, what="admit_pairs_batch",
        ):
            em.setdefault((a, b), [None, None])[1] = hm
        # both dup_of columns name the component canonical (an
        # ADMITTED pair); the per-modality metric stays NULL when that
        # modality has no direct edge to the canonical
        batch_dups = {
            d: (_modality(tj, ih), canon, tj, canon, ih)
            for d, (canon, tj, ih) in within_batch_dups(
                [(a, b, tj, ih) for (a, b), (tj, ih) in em.items()],
                index_dups, decoded,
            ).items()
        }

        def insert(admitted: list) -> None:
            # the TEXT-index writes are order-sensitive between
            # themselves (sigs before bands, see _insert_text), but the
            # IMAGE-index insert touches a different store entirely —
            # the two indexes' write jobs overlap; the ledger commit
            # still waits for both
            adm = set(admitted)
            overlap(
                lambda: _insert_text(spark, text_index_path, t, adm),
                lambda: _insert_hashes(
                    spark, image_index_path,
                    sorted(i for i in adm if i not in i_self_set),
                    hash_rows, "doc_id",
                ),
            )

        # decisions cover EVERY input pair: the sig rows carry one per
        # pair; a pair with an undecodable image quarantines
        # (admitted=false, reject_modality='decode', NULL dup_ofs) and
        # neither of its sides is inserted into an index
        return Probed(
            ids=[d for d, _hs in t.sig_rows],
            index_dups=index_dups,
            batch_dups=batch_dups,
            insert=insert,
            decoded=decoded,
            quarantine=("decode", None, None, None, None),
        )

    return run_gate(
        spark, state_dir, epoch_id, app_id,
        decision_schema(id_col, **_PROVENANCE), probe,
    )


def admit_pairs_stream(
    stream: DataFrame,
    text_index_path: str,
    image_index_path: str,
    state_dir: str,
    checkpoint: str,
    threshold: float = 0.5,
    max_hamming: int = 3,
    fake: bool = False,
    available_now: bool = True,
    maintenance_every: int | None = 50,
) -> StreamingQuery:
    """Wire the paired gate into a streaming query; checkpoint
    identity and the maintenance tick (BOTH indexes and the ledger):
    see :func:`admission_common.start_gate_stream`."""
    admit = partial(
        admit_pairs_batch, text_index_path=text_index_path,
        image_index_path=image_index_path, state_dir=state_dir,
        threshold=threshold, max_hamming=max_hamming, fake=fake,
    )
    return start_gate_stream(
        stream, admit, checkpoint, state_dir,
        [text_index_path, image_index_path], maintenance_every,
        available_now,
    )


def read_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All paired admission decisions so far (one row per pair)."""
    return read_ledger(spark, state_dir, DECISIONS)
