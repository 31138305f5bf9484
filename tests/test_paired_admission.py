"""Cross-modal paired admission gate (streaming/paired_admission):
quadrant routing with modality provenance, exactly-once epochs,
crash-window convergence across the three index writes, and
stream == batch parity. The full quadrant value matrix is
driver-gated by the paired_admission_gate oracle entry."""

import hashlib

import numpy as np

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators import codecs, dedup, multimodal
from ai_fabric_etl_spark.streaming.paired_admission import (
    admit_pairs_batch,
    admit_pairs_stream,
    read_decisions,
)


def _text(key: str) -> str:
    return " ".join(
        hashlib.md5(f"{key}:{k}".encode()).hexdigest() for k in range(8)
    )


def _img(key: str) -> bytearray:
    seed = int(hashlib.md5(key.encode()).hexdigest()[:6], 16)
    rng = np.random.RandomState(seed)
    return bytearray(
        codecs.encode_bmp(rng.randint(0, 256, (16, 18, 3)).astype(np.uint8))
    )


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "pair_id long, text string, payload binary"
    )


def _init(spark, tidx, iidx, corpus):
    """corpus: list of (id, text_key, img_key)."""
    docs = spark.createDataFrame(
        [(i, _text(tk)) for i, tk, _ in corpus], "doc_id long, text string"
    )
    dedup.minhash_index_write(docs, tidx)
    imgs = spark.createDataFrame(
        [(i, _img(ik)) for i, _, ik in corpus],
        "media_id long, payload binary",
    )
    multimodal.phash_index_write(
        multimodal.dhash64(imgs, fake=False), iidx, n_buckets=16
    )


def test_paired_quadrant_routing(spark, tmp_path):
    """text-dup / image-dup / both / none quadrants + within-batch
    copy: provenance names the matched modality and index id."""
    tidx, iidx = str(tmp_path / "t"), str(tmp_path / "i")
    state = str(tmp_path / "s")
    _init(spark, tidx, iidx, [(1, "T1", "I1"), (2, "T2", "I2")])

    batch = _pairs(spark, [
        (100, _text("T1"), _img("N-a")),   # text dup of 1
        (110, _text("N-b"), _img("I2")),   # image dup of 2
        (120, _text("T1"), _img("I1")),    # both dup of 1
        (130, _text("N-c"), _img("N-d")),  # fully novel -> admit
        (140, _text("N-c"), _img("N-d")),  # within-batch copy of 130
    ])
    admit_pairs_batch(spark, batch, tidx, iidx, state,
                      epoch_id=0, app_id="t")
    d = {r.pair_id: (r.admitted, r.reject_modality, r.text_dup_of,
                     r.image_dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d[100] == (False, "text", 1, None)
    assert d[110] == (False, "image", None, 2)
    assert d[120] == (False, "both", 1, 1)
    assert d[130] == (True, None, None, None)
    assert d[140] == (False, "both", 130, 130)
    # every rejected pair's within-batch dup_of is admitted or an
    # index id (component invariant)
    admitted = {k for k, v in d.items() if v[0]}
    assert d[140][2] in admitted

    # a later pair duplicating the ADMITTED pair on ONE side rejects
    # with that modality (both indexes grew)
    b2 = _pairs(spark, [(200, _text("N-c"), _img("N-z")),
                        (210, _text("N-y"), _img("N-d"))])
    admit_pairs_batch(spark, b2, tidx, iidx, state,
                      epoch_id=1, app_id="t")
    d = {r.pair_id: (r.admitted, r.reject_modality, r.text_dup_of,
                     r.image_dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d[200] == (False, "text", 130, None)
    assert d[210] == (False, "image", None, 130)


def test_paired_replay_and_crash_windows(spark, tmp_path):
    """Replayed epochs skip; a crash after ANY prefix of the three
    inserts converges on replay — text half already durable is
    self-detected (no duplicate sig/band rows), the missing image
    half is re-inserted."""
    tidx, iidx = str(tmp_path / "t"), str(tmp_path / "i")
    state = str(tmp_path / "s")
    _init(spark, tidx, iidx, [(1, "T1", "I1")])
    b = _pairs(spark, [(100, _text("N-a"), _img("N-b"))])

    # crash between the text inserts and the image insert: plant the
    # text sigs+bands only (what a crashed attempt leaves behind)
    from ai_fabric_etl_spark.operators.dedup import (
        _lsh_band_keys,
        _minhash_sig_udf,
        hashed_shingles,
        sig_store_append,
    )

    sig_lazy = b.select(
        F.col("pair_id").alias("doc_id"),
        hashed_shingles(F.col("text"), 3).alias("hs"),
    ).withColumn("sig", _minhash_sig_udf(32)(F.col("hs")))
    # localized: the pandas-UDF lineage is unevaluable in the write
    # path's interpreted-projection fallback
    sig = spark.createDataFrame(sig_lazy.collect(), sig_lazy.schema)
    sig_store_append(sig.select("doc_id", "hs"), tidx)
    _lsh_band_keys(sig, 32, 8).select(
        "doc_id", "bucket", F.lit(1).alias("bucket_size"), "band"
    ).write.partitionBy("band").mode("append").parquet(f"{tidx}/bands")

    admit_pairs_batch(spark, b, tidx, iidx, state, epoch_id=0, app_id="t")
    d = {r.pair_id: (r.admitted, r.reject_modality)
         for r in read_decisions(spark, state).collect()}
    assert d == {100: (True, None)}
    # text not re-inserted (self-detected), image inserted
    assert spark.read.parquet(f"{tidx}/sigs").filter(
        "doc_id = 100").count() == 1
    ih = multimodal.phash_index_probe(
        spark, iidx,
        multimodal.dhash64(
            _pairs(spark, [(999, _text("x"), _img("N-b"))])
            .select(F.col("pair_id").alias("doc_id"), "payload"),
            fake=False, id_col="doc_id",
        ),
        id_col="doc_id",
    )
    assert {(r.batch_id, r.index_id) for r in ih.collect()} == {(999, 100)}

    # replayed epoch: everything untouched
    n_sig = spark.read.parquet(f"{tidx}/sigs").count()
    admit_pairs_batch(spark, b, tidx, iidx, state, epoch_id=0, app_id="t")
    assert read_decisions(spark, state).count() == 1
    assert spark.read.parquet(f"{tidx}/sigs").count() == n_sig


def test_paired_stream_equals_batch(spark, tmp_path):
    """File-stream (availableNow, one batch per file) == direct batch
    calls."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(100, _text("N-a"), _img("N-b"))],
        [(200, _text("N-a"), _img("N-z")),   # text dup of admitted 100
         (210, _text("N-y"), _img("N-b")),   # image dup of admitted 100
         (220, _text("N-q"), _img("N-r"))],  # novel
    ]
    for i, rows in enumerate(batches):
        pd.DataFrame(
            {"pair_id": [r[0] for r in rows],
             "text": [r[1] for r in rows],
             "payload": [bytes(r[2]) for r in rows]}
        ).to_parquet(src / f"b{i}.parquet")

    def run_batch(tidx, iidx, state):
        _init(spark, tidx, iidx, [(1, "T1", "I1")])
        for i, rows in enumerate(batches):
            admit_pairs_batch(spark, _pairs(spark, rows), tidx, iidx,
                              state, epoch_id=i, app_id="b")

    tb, ib, sb = (str(tmp_path / x) for x in ("tb", "ib", "sb"))
    run_batch(tb, ib, sb)

    ts, is_, ss = (str(tmp_path / x) for x in ("ts", "is", "ss"))
    _init(spark, ts, is_, [(1, "T1", "I1")])
    stream = (
        spark.readStream.schema("pair_id long, text string, payload binary")
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = admit_pairs_stream(stream, ts, is_, ss,
                           checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    def canon(state):
        return sorted(
            (r.pair_id, r.admitted, r.reject_modality,
             r.text_dup_of, r.image_dup_of)
            for r in read_decisions(spark, state).collect()
        )

    assert canon(ss) == canon(sb)
    d = dict((r.pair_id, (r.admitted, r.reject_modality))
             for r in read_decisions(spark, ss).collect())
    assert d[200] == (False, "text")
    assert d[210] == (False, "image")
    assert d[220] == (True, None)


def test_quarantined_pair_never_within_batch_canonical(spark, tmp_path):
    """ADVICE r12 (medium): a quarantined pair (undecodable image)
    must not enter the within-batch near-dup graph through its text
    side. With the smallest id in a text-dup component it would become
    the canonical, rejecting a DECODABLE pair against content that was
    never admitted anywhere (silent loss). The decodable pair must be
    admitted; the poison pair quarantines ('decode')."""
    tidx, iidx = str(tmp_path / "t"), str(tmp_path / "i")
    state = str(tmp_path / "s")
    _init(spark, tidx, iidx, [(1, "T1", "I1")])

    poison = bytearray(bytes(_img("Q-img"))[:20])  # sniffs BMP, truncated
    batch = _pairs(spark, [
        (300, _text("QT"), poison),        # quarantine; text matches 310
        (310, _text("QT"), _img("N-ok")),  # decodable, novel image
    ])
    admit_pairs_batch(spark, batch, tidx, iidx, state,
                      epoch_id=0, app_id="t")
    d = {r.pair_id: (r.admitted, r.reject_modality, r.text_dup_of,
                     r.image_dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d[300] == (False, "decode", None, None)
    # the fix: 310 is ADMITTED (its only text match was the
    # quarantined 300, which is admitted nowhere)
    assert d[310] == (True, None, None, None)

    # and 310's sides really entered the indexes: an exact re-pair of
    # it in the next epoch rejects on both modalities against 310
    b2 = _pairs(spark, [(400, _text("QT"), _img("N-ok"))])
    admit_pairs_batch(spark, b2, tidx, iidx, state,
                      epoch_id=1, app_id="t")
    d = {r.pair_id: (r.admitted, r.reject_modality, r.text_dup_of,
                     r.image_dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d[400] == (False, "both", 310, 310)
