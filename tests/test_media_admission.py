"""Streaming media admission gate (streaming/media_admission.py):
decision routing, exactly-once epochs, crash-window convergence, and
stream == batch parity over real BMP bytes."""

import glob

import numpy as np

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators import codecs, multimodal
from ai_fabric_etl_spark.streaming.media_admission import (
    admit_media_batch,
    admit_media_stream,
    read_decisions,
)


def _img(seed: int) -> bytearray:
    rng = np.random.RandomState(seed)
    return bytearray(
        codecs.encode_bmp(rng.randint(0, 256, (16, 18, 3)).astype(np.uint8))
    )


def _media(spark, rows):
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _init_index(spark, path):
    empty = spark.createDataFrame([], "media_id long, dhash long")
    multimodal.phash_index_write(empty, path, n_buckets=16)


def test_admission_routing(spark, tmp_path):
    """Novel images admit; a byte-exact copy of an indexed image
    rejects with index provenance; a within-batch copy rejects with
    the smaller batch id."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _init_index(spark, idx)

    b1 = _media(spark, [(1, _img(1)), (2, _img(2))])
    admit_media_batch(spark, b1, idx, state, epoch_id=0, app_id="t")
    d = {r.media_id: (r.admitted, r.dup_of, r.hamming)
         for r in read_decisions(spark, state).collect()}
    assert d == {1: (True, None, None), 2: (True, None, None)}

    # batch 2: copy of indexed 1, a novel image, and a within-batch
    # copy pair (20 is a copy of 10 -> reject 20, admit 10)
    b2 = _media(
        spark,
        [(3, _img(1)), (10, _img(7)), (20, _img(7)), (30, _img(9))],
    )
    admit_media_batch(spark, b2, idx, state, epoch_id=1, app_id="t")
    d = {r.media_id: (r.admitted, r.dup_of, r.hamming)
         for r in read_decisions(spark, state).collect()}
    assert d[3] == (False, 1, 0)
    assert d[10] == (True, None, None)
    assert d[20] == (False, 10, 0)
    assert d[30] == (True, None, None)

    # the index holds exactly the admitted set: a copy of each
    # admitted image matches, a copy of a rejected-only id does not
    probe = _media(spark, [(100, _img(7)), (101, _img(9)), (102, _img(2))])
    got = {(r.batch_id, r.index_id)
           for r in multimodal.phash_index_probe(
               spark, idx, multimodal.dhash64(probe, fake=False)
           ).collect()}
    assert got == {(100, 10), (101, 30), (102, 2)}


def test_admission_epoch_replay_skips(spark, tmp_path):
    """Replaying an already-applied epoch is a no-op for decisions
    AND index contents (exactly-once under restart)."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _init_index(spark, idx)
    b = _media(spark, [(1, _img(1)), (2, _img(2))])
    admit_media_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    n_files = len(glob.glob(f"{idx}/**/*.parquet", recursive=True))
    n_dec = read_decisions(spark, state).count()
    admit_media_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    assert len(glob.glob(f"{idx}/**/*.parquet", recursive=True)) == n_files
    assert read_decisions(spark, state).count() == n_dec


def test_admission_crash_window_converges(spark, tmp_path):
    """A crash BETWEEN the index insert and the epoch commit (the
    non-atomic window) converges on replay: rows already in the index
    under their own id keep their admit decision and are not
    re-inserted."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _init_index(spark, idx)
    b = _media(spark, [(1, _img(1)), (2, _img(2))])
    # simulate the crashed first attempt: index got the rows, the
    # decisions/epoch commit never happened
    multimodal.phash_index_insert(
        spark, idx, multimodal.dhash64(b, fake=False)
    )
    n_rows = spark.read.schema(
        "media_id long, dhash long, cv long, ci int, cb int"
    ).parquet(idx).count()
    admit_media_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    d = {r.media_id: (r.admitted, r.dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d == {1: (True, None), 2: (True, None)}
    got = spark.read.schema(
        "media_id long, dhash long, cv long, ci int, cb int"
    ).parquet(idx).count()
    assert got == n_rows  # no duplicate index rows from the replay


def test_admission_stream_equals_batch(spark, tmp_path):
    """Running the batches through a real file stream (availableNow,
    one batch per file) produces the same decisions and an
    equivalently-probing index as direct batch calls."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, _img(1)), (2, _img(2))],
        [(3, _img(1)), (10, _img(7)), (20, _img(7))],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {"media_id": [r[0] for r in rows],
             "payload": [bytes(r[1]) for r in rows]}
        )
        pdf.to_parquet(src / f"b{i}.parquet")

    # batch reference
    idx_b = str(tmp_path / "idx_b")
    st_b = str(tmp_path / "st_b")
    _init_index(spark, idx_b)
    for i, rows in enumerate(batches):
        admit_media_batch(
            spark, _media(spark, rows), idx_b, st_b, epoch_id=i, app_id="b"
        )

    # stream: one file per micro-batch
    idx_s = str(tmp_path / "idx_s")
    st_s = str(tmp_path / "st_s")
    _init_index(spark, idx_s)
    stream = (
        spark.readStream.schema("media_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = admit_media_stream(
        stream, idx_s, st_s, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    def canon(state):
        return sorted(
            (r.media_id, r.admitted, r.dup_of, r.hamming)
            for r in read_decisions(spark, state).collect()
        )

    assert canon(st_s) == canon(st_b)
    probe = multimodal.dhash64(
        _media(spark, [(100, _img(7)), (101, _img(2))]), fake=False
    )
    pb = {(r.batch_id, r.index_id)
          for r in multimodal.phash_index_probe(spark, idx_b, probe).collect()}
    ps = {(r.batch_id, r.index_id)
          for r in multimodal.phash_index_probe(spark, idx_s, probe).collect()}
    assert pb == ps == {(100, 10), (101, 2)}


def test_admission_replay_matches_clean_run(spark, tmp_path):
    """Interleaving invariance: replay after a crashed attempt that
    already inserted the admitted rows computes EXACTLY the clean
    run's decisions — a prior-attempt insert of ANOTHER batch row
    (here the within-batch canonical 10) is routed through the batch
    graph, not misclassified as a corpus duplicate."""
    batch = [(10, _img(7)), (20, _img(7)), (30, _img(9))]

    def run(idx, state, pre_crash):
        _init_index(spark, idx)
        if pre_crash:
            admit_media_batch(spark, _media(spark, batch), idx,
                              idx + "_scratch", epoch_id=0, app_id="x")
        admit_media_batch(spark, _media(spark, batch), idx, state,
                          epoch_id=0, app_id="t")
        return sorted(
            (r.media_id, r.admitted, r.dup_of, r.hamming)
            for r in read_decisions(spark, state).collect()
        )

    clean = run(str(tmp_path / "i1"), str(tmp_path / "s1"), False)
    replay = run(str(tmp_path / "i2"), str(tmp_path / "s2"), True)
    assert clean == replay
    assert [r[1] for r in clean] == [True, False, True]  # 20 rejects vs 10
    n = spark.read.schema(
        "media_id long, dhash long, cv long, ci int, cb int"
    ).parquet(str(tmp_path / "i2")).groupBy("media_id").count()
    assert n.filter("count > 4").count() == 0  # 4 chunk rows per image, once


def test_partial_self_insert_completes_on_replay(spark, tmp_path):
    """Crash mid phash_index_insert leaves an id with fewer than its
    4 chunk rows. Replay must re-insert (full-presence self-detection,
    ADVICE r11) so near-dups whose only equal chunk was a missing row
    still match."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _init_index(spark, idx)

    b = _media(spark, [(100, _img(9))])
    hashes = multimodal.dhash64(b, fake=False)
    partial = multimodal._index_chunks(hashes, "media_id", "dhash", 16).filter(
        F.col("ci") < 2
    )
    partial.repartition("ci", "cb").write.mode("append").partitionBy(
        "ci", "cb"
    ).parquet(idx)

    admit_media_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    d = {r.media_id: (r.admitted, r.dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d == {100: (True, None)}
    pres = multimodal.phash_index_presence(spark, idx, hashes).collect()[0]
    assert pres.n_chunks == 4


def test_undecodable_payload_quarantines(spark, tmp_path):
    """A corrupt image payload must not fail the micro-batch (poison
    pill) NOR vanish: the hasher emits a NULL-hash row
    (on_error='null') and the gate records an explicit quarantine —
    admitted=false with NULL dup_of — while the decodable rows of the
    same batch route normally and the corrupt id never enters the
    index."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _init_index(spark, idx)
    corrupt = bytearray(bytes(_img(5))[:20])  # sniffs as BMP, truncated
    b = _media(spark, [(1, _img(1)), (2, corrupt)])
    admit_media_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    d = {r.media_id: (r.admitted, r.dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d == {1: (True, None), 2: (False, None)}
    idx_ids = {
        r.media_id
        for r in spark.read.schema(
            "media_id long, dhash long, cv long, ci int, cb int"
        ).parquet(idx).select("media_id").distinct().collect()
    }
    assert idx_ids == {1}
