"""Streaming text admission gate (streaming/text_admission.py):
decision routing, exactly-once epochs, crash-window convergence,
live-occupancy skew policy, and stream == batch parity."""

import glob

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators import dedup
from ai_fabric_etl_spark.streaming.text_admission import (
    admit_text_batch,
    admit_text_stream,
    read_decisions,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill and the birds sing outside"
)
NOVEL_A = (
    "completely different content about distributed query engines "
    "processing parquet files with vectorized execution and columnar "
    "storage layouts at terabyte scale"
)
NOVEL_B = (
    "a third unrelated passage describing tokenizer vocabularies "
    "subword merges byte pair encodings and unigram language model "
    "pruning schedules for corpus preparation"
)


def _near(text: str) -> str:
    """A near-duplicate: one word substituted — shingle Jaccard stays
    far above 0.5 on these ~20-word texts."""
    return text.replace("the lazy dog", "the sleepy dog", 1).replace(
        "vectorized execution", "vectorised execution", 1
    ).replace("pruning schedules", "pruning timetables", 1)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _build_index(spark, path, rows):
    dedup.minhash_index_write(_docs(spark, rows), path)


def test_text_admission_routing_and_growth(spark, tmp_path):
    """Corpus near-dups reject with index provenance; novel docs
    admit; within-batch near-dups reject against the smaller id; a
    LATER batch near-dup of an earlier ADMITTED doc rejects against
    it (the insert actually grows the index)."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _build_index(spark, idx, [(1, BASE), (2, NOVEL_B)])

    b1 = _docs(
        spark,
        [(100, _near(BASE)), (110, NOVEL_A), (120, _near(NOVEL_A))],
    )
    admit_text_batch(spark, b1, idx, state, epoch_id=0, app_id="t")
    d = {r.doc_id: (r.admitted, r.dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d[100] == (False, 1)      # corpus near-dup
    assert d[110] == (True, None)    # novel
    assert d[120] == (False, 110)    # within-batch, smaller id wins

    b2 = _docs(spark, [(200, NOVEL_A)])  # exact copy of admitted 110
    admit_text_batch(spark, b2, idx, state, epoch_id=1, app_id="t")
    d = {r.doc_id: (r.admitted, r.dup_of, r.jaccard)
         for r in read_decisions(spark, state).collect()}
    assert d[200] == (False, 110, 1.0)


def test_text_admission_replay_and_crash_window(spark, tmp_path):
    """Replayed epochs skip entirely; a crash between the index
    insert and the epoch commit converges on replay (same-id index
    match -> keep admitted, no duplicate index rows)."""
    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _build_index(spark, idx, [(1, BASE)])
    b = _docs(spark, [(100, NOVEL_A)])

    # crashed first attempt: bands+sigs got the row, no epoch commit
    admit_text_batch(spark, b, idx, str(tmp_path / "scratch"),
                     epoch_id=0, app_id="x")
    n_sig = spark.read.parquet(f"{idx}/sigs").count()
    admit_text_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    d = {r.doc_id: (r.admitted, r.dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d == {100: (True, None)}
    assert spark.read.parquet(f"{idx}/sigs").count() == n_sig

    # replayed epoch: decisions and index untouched
    n_files = len(glob.glob(f"{idx}/**/*.parquet", recursive=True))
    admit_text_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    assert read_decisions(spark, state).count() == 1
    assert len(glob.glob(f"{idx}/**/*.parquet", recursive=True)) == n_files


def test_text_admission_hot_bucket_policy(spark, tmp_path):
    """>max_bucket identical corpus docs share every band bucket:
    probing a matching doc raises by default, drops with counters on
    request (explicit recall loss, never silent quadratic)."""
    import pytest

    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _build_index(spark, idx, [(i, BASE) for i in range(8)])
    b = _docs(spark, [(100, BASE)])
    with pytest.raises(Exception, match="max_bucket"):
        admit_text_batch(spark, b, idx, state, epoch_id=0, app_id="t",
                         max_bucket=5)
    stats = {}
    admit_text_batch(spark, b, idx, str(tmp_path / "state2"), epoch_id=0,
                     app_id="t2", max_bucket=5, on_oversize="drop",
                     stats_out=stats)
    d = {r.doc_id: r.admitted
         for r in read_decisions(spark, str(tmp_path / "state2")).collect()}
    assert d == {100: True}  # every witness bucket dropped -> admitted
    assert stats["dropped_buckets"] == 8  # all 8 bands hot
    assert stats["dropped_rows"] == 64


def test_text_admission_stream_equals_batch(spark, tmp_path):
    """The availableNow stream produces the same decisions and an
    equivalently-rejecting index as direct batch calls."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(100, _near(BASE)), (110, NOVEL_A)],
        [(200, NOVEL_A), (210, NOVEL_B)],
    ]
    for i, rows in enumerate(batches):
        pd.DataFrame(
            {"doc_id": [r[0] for r in rows],
             "text": [r[1] for r in rows]}
        ).to_parquet(src / f"b{i}.parquet")

    idx_b = str(tmp_path / "idx_b")
    st_b = str(tmp_path / "st_b")
    _build_index(spark, idx_b, [(1, BASE)])
    for i, rows in enumerate(batches):
        admit_text_batch(spark, _docs(spark, rows), idx_b, st_b,
                         epoch_id=i, app_id="b")

    idx_s = str(tmp_path / "idx_s")
    st_s = str(tmp_path / "st_s")
    _build_index(spark, idx_s, [(1, BASE)])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = admit_text_stream(stream, idx_s, st_s,
                          checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    def canon(state):
        return sorted(
            (r.doc_id, r.admitted, r.dup_of, r.jaccard)
            for r in read_decisions(spark, state).collect()
        )

    assert canon(st_s) == canon(st_b)
    got = canon(st_s)
    assert (200, False, 110, 1.0) in got  # cross-batch growth held
    assert (210, True, None, None) in got


def test_text_admission_orphan_sigs_never_suppress(spark, tmp_path):
    """A crash BETWEEN the sigs append and the bands append (the
    window the sigs-first ordering makes survivable) converges on
    replay: self-detection keys on bands, finds nothing, re-inserts
    both halves — the duplicate sig row is benign, and a later
    duplicate of the doc is still REJECTED (nothing is permanently
    suppressed from the index)."""
    from ai_fabric_etl_spark.operators.dedup import (
        _minhash_sig_udf,
        hashed_shingles,
        sig_store_append,
    )

    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    _build_index(spark, idx, [(1, BASE)])
    b = _docs(spark, [(100, NOVEL_A)])

    # simulate the crashed attempt: sig row written, band rows not
    sig_store_append(
        b.select(
            "doc_id", hashed_shingles(F.col("text"), 3).alias("hs")
        ).withColumn("sig", _minhash_sig_udf(32)(F.col("hs"))).select(
            "doc_id", "hs"
        ),
        idx,
    )

    admit_text_batch(spark, b, idx, state, epoch_id=0, app_id="t")
    d = {r.doc_id: (r.admitted, r.dup_of)
         for r in read_decisions(spark, state).collect()}
    assert d == {100: (True, None)}
    # duplicate sig row is the documented benign outcome
    assert spark.read.parquet(f"{idx}/sigs").filter(
        "doc_id = 100").count() == 2
    assert spark.read.parquet(f"{idx}/bands").filter(
        "doc_id = 100").count() > 0

    # the doc is fully live in the index: its duplicate rejects
    b2 = _docs(spark, [(200, NOVEL_A)])
    admit_text_batch(spark, b2, idx, state, epoch_id=1, app_id="t")
    d = {r.doc_id: (r.admitted, r.dup_of, r.jaccard)
         for r in read_decisions(spark, state).collect()}
    assert d[200] == (False, 100, 1.0)


def test_text_admission_chain_component_policy(spark, tmp_path):
    """Within-batch chains (ADVICE r10): A~B and B~C with A not ~ C.
    The component canonical A is admitted; BOTH B and C reject
    against A — never against the rejected B — so every rejected
    doc's dup_of is an ADMITTED doc. C's jaccard is NULL (transitive
    member, no direct pair with the canonical)."""
    words = [f"tok{i:02d}" for i in range(1, 29)]
    a = " ".join(words[0:20])    # w1..w20
    b = " ".join(words[4:24])    # w5..w24: J(a,b) = 14/22 ~ 0.64
    c = " ".join(words[8:28])    # w9..w28: J(b,c) ~ 0.64, J(a,c) = 10/26 < 0.5

    idx = str(tmp_path / "idx")
    state = str(tmp_path / "state")
    # 32 bands x 2 rows: chain links sit at J ~ 0.64, where the
    # default 8x4 banding misses ~23% of candidates
    dedup.minhash_index_write(
        _docs(spark, [(1, NOVEL_B)]), idx, num_hashes=64, bands=32
    )
    admit_text_batch(
        spark, _docs(spark, [(10, a), (20, b), (30, c)]),
        idx, state, epoch_id=0, app_id="t",
        num_hashes=64, bands=32,
    )
    d = {r.doc_id: (r.admitted, r.dup_of, r.jaccard)
         for r in read_decisions(spark, state).collect()}
    assert d[10] == (True, None, None)
    assert d[20][0] is False and d[20][1] == 10 and d[20][2] is not None
    assert d[30] == (False, 10, None)  # transitive: canonical, NULL metric
    admitted = {k for k, v in d.items() if v[0]}
    assert all(v[1] in admitted for k, v in d.items() if not v[0])


def test_text_admission_replay_matches_clean_run(spark, tmp_path):
    """Interleaving invariance: a replay after a crashed attempt that
    already inserted the admitted rows computes EXACTLY the clean
    run's decisions — the prior attempt's inserts of OTHER batch rows
    are routed through the within-batch graph, not misclassified as
    corpus duplicates (which would flip chain members' decisions)."""
    words = [f"tok{i:02d}" for i in range(1, 29)]
    a = " ".join(words[0:20])
    b = " ".join(words[4:24])
    c = " ".join(words[8:28])
    batch = [(10, a), (20, b), (30, c), (40, NOVEL_A)]

    def run(idx, state, pre_crash):
        dedup.minhash_index_write(
            _docs(spark, [(1, NOVEL_B)]), idx, num_hashes=64, bands=32
        )
        if pre_crash:  # crashed attempt: inserts done, commit missing
            admit_text_batch(spark, _docs(spark, batch), idx,
                             str(idx) + "_scratch", epoch_id=0, app_id="x",
                             num_hashes=64, bands=32)
        admit_text_batch(spark, _docs(spark, batch), idx, state,
                         epoch_id=0, app_id="t", num_hashes=64, bands=32)
        return sorted(
            (r.doc_id, r.admitted, r.dup_of, r.jaccard)
            for r in read_decisions(spark, state).collect()
        )

    clean = run(str(tmp_path / "i1"), str(tmp_path / "s1"), False)
    replay = run(str(tmp_path / "i2"), str(tmp_path / "s2"), True)
    assert clean == replay
    # and the replayed index holds each admitted doc exactly once
    n = spark.read.parquet(f"{tmp_path}/i2/sigs").groupBy("doc_id").count()
    assert n.filter("count > 1").count() == 0
