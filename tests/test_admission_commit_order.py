"""Insert-before-commit ordering for every admission gate (text,
image, audio, video, text+image pairs, embeddings), on the ledger's
first commit (epoch 0, which ``ParquetMergeTable.append`` hands to
``overwrite``) and on a later one (epoch 1, a manifest ``append``):
if the commit fails, the index already holds the admitted rows, the
ledger has not advanced, and a replay converges — commit-first would
skip the replay and lose the rows from the index forever."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ai_fabric_etl_spark.operators import codecs, dedup, multimodal, similarity
from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
from ai_fabric_etl_spark.streaming import (
    embedding_admission,
    media_admission,
    paired_admission,
    text_admission,
)

PHASH = "media_id long, dhash long, cv long, ci int, cb int"
VIDEO = "media_id long, frame_idx int, fhash long, cv long, ci int, cb int"


def _text(key: str) -> str:
    return " ".join(
        hashlib.md5(f"{key}:{k}".encode()).hexdigest() for k in range(8)
    )


def _img(seed: int) -> bytearray:
    rng = np.random.RandomState(seed)
    return bytearray(
        codecs.encode_bmp(rng.randint(0, 256, (16, 18, 3)).astype(np.uint8))
    )


def _wav(seed: int) -> bytearray:
    frames = np.random.RandomState(seed).randint(-(2**14), 2**14, 1024)
    return bytearray(
        codecs.encode_wav(frames.astype(np.int16), sample_rate=16_000)
    )


def _y4m(seed: int) -> bytearray:
    return bytearray(codecs.encode_y4m([
        np.random.RandomState(seed * 1000 + f)
        .randint(0, 256, (8, 16)).astype(np.uint8)
        for f in range(5)
    ]))


def _vec(seed: int) -> list[float]:
    v = np.random.RandomState(seed).normal(0, 0.1, 64)
    v[seed % 64] += 1000.0
    return [float(x) for x in v]


def _media(spark, rows, make):
    return spark.createDataFrame(
        [(i, make(i)) for i in rows], "media_id long, payload binary"
    )


def _ids(spark, path: str, schema: str, col: str) -> set:
    return {
        r[0] for r in spark.read.schema(schema).parquet(path)
        .select(col).collect()
    }


def _n(spark, *paths: str) -> int:
    return sum(spark.read.parquet(p).count() for p in paths)


# Per gate: set-up of the index, the batch of given ids, the batch
# call, the ids the index holds, its total row count, and the ledger
# read-back.


def _text_setup(spark, d):
    dedup.minhash_index_write(
        spark.createDataFrame([(1, _text("corpus"))],
                              "doc_id long, text string"),
        d["idx"],
    )


def _text_batch(spark, ids):
    return spark.createDataFrame(
        [(i, _text(f"doc{i}")) for i in ids], "doc_id long, text string"
    )


def _text_held(spark, d):
    return (_ids(spark, f"{d['idx']}/sigs", "doc_id long", "doc_id")
            & _ids(spark, f"{d['idx']}/bands", "doc_id long", "doc_id"))


def _phash_setup(hasher, make):
    def setup(spark, d):
        multimodal.phash_index_write(
            hasher(_media(spark, [1], make)), d["idx"], n_buckets=16
        )
    return setup


def _video_setup(spark, d):
    multimodal.video_index_write(
        multimodal.video_frame_hashes(_media(spark, [1], _y4m), fake=False),
        d["idx"], n_buckets=16,
    )


def _paired_setup(spark, d):
    _text_setup(spark, {"idx": d["tidx"]})
    multimodal.phash_index_write(
        multimodal.dhash64(_media(spark, [1], _img), fake=False),
        d["iidx"], n_buckets=16,
    )


def _paired_batch(spark, ids):
    return spark.createDataFrame(
        [(i, _text(f"pair{i}"), _img(i)) for i in ids],
        "pair_id long, text string, payload binary",
    )


def _emb_setup(spark, d):
    similarity.emb_neardup_index_write(
        spark.createDataFrame([(1, _vec(1))],
                              "vec_id long, embedding array<float>"),
        d["idx"],
    )


GATES = {
    "text": (
        _text_setup, _text_batch,
        lambda spark, b, d, e: text_admission.admit_text_batch(
            spark, b, d["idx"], d["state"], epoch_id=e, app_id="t"),
        _text_held,
        lambda spark, d: _n(spark, f"{d['idx']}/sigs", f"{d['idx']}/bands"),
        text_admission.read_decisions,
    ),
    "image": (
        _phash_setup(lambda df: multimodal.dhash64(df, fake=False), _img),
        lambda spark, ids: _media(spark, ids, _img),
        lambda spark, b, d, e: media_admission.admit_media_batch(
            spark, b, d["idx"], d["state"], epoch_id=e, app_id="t"),
        lambda spark, d: _ids(spark, d["idx"], PHASH, "media_id"),
        lambda spark, d: spark.read.schema(PHASH).parquet(d["idx"]).count(),
        media_admission.read_decisions,
    ),
    "audio": (
        _phash_setup(
            lambda df: multimodal.audio_fp64(df, fake=False)
            .withColumnRenamed("afp", "dhash"),
            _wav,
        ),
        lambda spark, ids: _media(spark, ids, _wav),
        lambda spark, b, d, e: media_admission.admit_audio_batch(
            spark, b, d["idx"], d["state"], epoch_id=e, app_id="t"),
        lambda spark, d: _ids(spark, d["idx"], PHASH, "media_id"),
        lambda spark, d: spark.read.schema(PHASH).parquet(d["idx"]).count(),
        media_admission.read_decisions,
    ),
    "video": (
        _video_setup,
        lambda spark, ids: _media(spark, ids, _y4m),
        lambda spark, b, d, e: media_admission.admit_video_batch(
            spark, b, d["idx"], d["state"], epoch_id=e, app_id="t"),
        lambda spark, d: _ids(spark, d["idx"], VIDEO, "media_id"),
        lambda spark, d: spark.read.schema(VIDEO).parquet(d["idx"]).count(),
        media_admission.read_video_decisions,
    ),
    "paired": (
        _paired_setup, _paired_batch,
        lambda spark, b, d, e: paired_admission.admit_pairs_batch(
            spark, b, d["tidx"], d["iidx"], d["state"], epoch_id=e,
            app_id="t"),
        lambda spark, d: (_text_held(spark, {"idx": d["tidx"]})
                          & _ids(spark, d["iidx"], PHASH, "media_id")),
        lambda spark, d: (
            _n(spark, f"{d['tidx']}/sigs", f"{d['tidx']}/bands")
            + spark.read.schema(PHASH).parquet(d["iidx"]).count()
        ),
        paired_admission.read_decisions,
    ),
    "embedding": (
        _emb_setup,
        lambda spark, ids: spark.createDataFrame(
            [(i, _vec(i)) for i in ids], "vec_id long, embedding array<float>"
        ),
        lambda spark, b, d, e: embedding_admission.admit_embeddings_batch(
            spark, b, d["idx"], d["state"], epoch_id=e, app_id="t",
            threshold=0.95),
        lambda spark, d: (
            _ids(spark, f"{d['idx']}/vecs", "id long", "id")
            & _ids(spark, f"{d['idx']}/keys", "id long", "id")
        ),
        lambda spark, d: _n(spark, f"{d['idx']}/vecs", f"{d['idx']}/keys"),
        embedding_admission.read_decisions,
    ),
}


def _novel(epoch: int) -> list:
    """Two ids per epoch whose payloads match nothing indexed or
    earlier, so every row is admitted."""
    return [100 * epoch + 101, 100 * epoch + 102]


@pytest.mark.parametrize("epoch", [0, 1])
@pytest.mark.parametrize("gate", list(GATES))
def test_inserts_precede_ledger_commit(spark, tmp_path, monkeypatch,
                                       gate, epoch):
    setup, batch, admit, held, n_rows, read = GATES[gate]
    d = {k: str(tmp_path / k) for k in ("idx", "tidx", "iidx", "state")}
    setup(spark, d)
    for e in range(epoch):  # earlier epochs commit normally
        assert admit(spark, batch(spark, _novel(e)), d, e)
    ledger = ParquetMergeTable(spark, d["state"])
    last = ledger.last_epoch("t")
    assert last == (epoch - 1 if epoch else None)

    ids = set(_novel(epoch))
    b = batch(spark, _novel(epoch))

    def boom(self, *a, **kw):
        raise RuntimeError("simulated crash at the ledger commit")

    with monkeypatch.context() as m:
        m.setattr(ParquetMergeTable, "overwrite", boom)
        m.setattr(ParquetMergeTable, "append", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            admit(spark, b, d, epoch)

    # the inserts are durable, the ledger did not advance
    assert ids <= held(spark, d)
    assert ledger.last_epoch("t") == last
    n_held = n_rows(spark, d)

    # the replay converges: the decisions land, no index row repeats
    assert admit(spark, b, d, epoch)
    got = {r[0]: r.admitted
           for r in read(spark, d["state"]).filter(f"epoch = {epoch}")
           .collect()}
    assert got == {i: True for i in ids}
    assert n_rows(spark, d) == n_held
