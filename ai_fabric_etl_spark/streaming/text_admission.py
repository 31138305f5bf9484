"""Streaming text admission: a continuous near-duplicate gate over a
document stream, backed by the persisted MinHash LSH index.

The text sibling of :mod:`streaming.media_admission` — together they
make corpus dedup CONTINUOUS for both modalities instead of a
re-run-per-snapshot batch job. Batch building blocks:
``dedup.minhash_index_write`` persists signatures + band keys once;
each micro-batch here shingles and signs ONLY itself (O(batch)),
probes the band-partitioned index map-side, verifies candidates with
EXACT Jaccard against the stored shingle sets, routes every doc
(admit / reject with best-match provenance), and appends the admitted
docs' band keys + signatures so later batches dedup against them.

Skew policy (r10 idiom, shared with multimodal.phash_index_probe):
the probe computes LIVE per-(band, bucket) occupancy on the
broadcast-pruned index scan — never trusting the build-time
``bucket_size`` column, which goes stale as inserts append — and a
bucket over ``max_bucket`` raises by default or drops with counters
(``stats_out``: dropped_buckets/dropped_rows). Appended band rows
stamp ``bucket_size`` with the bucket's occupancy AS OF their insert
(monotone within a bucket), so the batch-path
``minhash_dedup_incremental`` stored-size guard stays meaningful for
them; its guard is still build-time-approximate on grown indexes —
this module's live count is the admission-path guarantee.

Epoch discipline, routing and the ledger commit are the shared gate
skeleton (streaming/admission_common.run_gate); a probe match with
``index id == batch id`` can only be the batch's own insert from a
prior crashed attempt (ids are unique in the stream), so those rows
keep their admit decision and are not re-inserted — any interleaving
converges. Write order is sigs -> bands -> decisions commit:
self-detection keys on band rows, so a crash between the appends
leaves orphan sigs (benign duplicate on re-insert), never band keys
whose signatures are permanently suppressed. The paired gate reuses
this module's probe and index insert for its text side.
"""

from __future__ import annotations

from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import DoubleType, LongType

from ai_fabric_etl_spark.operators.dedup import (
    _check_pmod_id_type,
    _lsh_band_keys,
    _minhash_sig_udf,
    _sig_bucket,
    hashed_shingles,
    sig_store_append,
    sig_store_layout,
    sig_store_read,
)
from ai_fabric_etl_spark.operators.multimodal import _oversize_guard
from ai_fabric_etl_spark.streaming.admission_common import (
    Probed,
    decision_schema,
    local_text_within,
    one_slice,
    read_ledger,
    round6,
    run_gate,
    start_gate_stream,
    within_batch_dups,
)

DECISIONS = decision_schema("doc_id", dup_of=LongType(), jaccard=DoubleType())


class TextProbe(NamedTuple):
    """The localized outcome of :func:`_text_probe`."""

    index_dups: dict  # doc_id -> (dup_of, jaccard) of a corpus duplicate
    self_set: set  # ids whose band rows are already durable
    sig_rows: list  # (doc_id, hs), one per input doc
    bk_rows: list  # (doc_id, band, bucket)
    occ_rows: list  # live occupancy rows of the touched buckets
    edges: list  # within-batch (doc_a, doc_b, jaccard), doc_a < doc_b


def _sig_bands(
    docs: DataFrame, text_col: str, num_hashes: int, bands: int, n: int
) -> tuple[DataFrame, DataFrame]:
    sig = docs.select(
        "doc_id", hashed_shingles(F.col(text_col), n).alias("hs")
    ).withColumn("sig", _minhash_sig_udf(num_hashes)(F.col("hs")))
    sig = sig.persist()
    return sig, _lsh_band_keys(sig, num_hashes, bands)


def _exact_jaccard(cand: DataFrame, hs_a: DataFrame, hs_b: DataFrame,
                   threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for candidate pairs, exact over the
    hashed shingle sets (same contract as the batch dedup path).
    The candidate list is BATCH-sized (band-pruned pairs) while
    ``hs_a`` may be the corpus-sized signature store — broadcast the
    candidates so the store is scanned once map-side, never shuffled."""
    j = F.broadcast(cand).join(hs_a, "doc_a").join(hs_b, "doc_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        j.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _text_probe(
    spark: SparkSession,
    index_path: str,
    docs_batch: DataFrame,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    n: int,
    max_bucket: int,
    on_oversize: str,
    stats_out: dict | None,
    what: str,
    scratch: list,
) -> TextProbe:
    """The probe half of text admission, shared with the cross-modal
    paired gate: shingle+sign the batch, prune the band index to the
    touched buckets (live occupancy skew policy), verify candidates
    with exact Jaccard, then LOCALIZE the decision-sized outputs and
    find the within-batch pairs on the driver. Every frame it
    persists goes into ``scratch`` (the caller unpersists after its
    commit); the batch-sized candidate frame is one of them, so the
    sb-prune collect, self-detection, and the verify share one
    candidate materialization."""
    sig, bk = _sig_bands(docs_batch, text_col, num_hashes, bands, n)
    bk = bk.persist()
    touched = bk.select("band", "bucket").distinct()

    idx_bk = spark.read.schema(
        "doc_id long, bucket long, bucket_size long, band int"
    ).parquet(f"{index_path}/bands")
    pruned = idx_bk.join(F.broadcast(touched), ["band", "bucket"]).select(
        "band", "bucket", "doc_id"
    )
    # LIVE occupancy on the pruned scan — the stored bucket_size is a
    # build-time hint that goes stale under appends
    occ = pruned.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n")
    )
    if on_oversize == "raise":
        occ = occ.withColumn(
            "_n", _oversize_guard(max_bucket, what)("_n")
        )
    elif stats_out is not None:
        row = (
            occ.filter(F.col("_n") > max_bucket)
            .agg(F.count(F.lit(1)).alias("b"),
                 F.coalesce(F.sum("_n"), F.lit(0)).alias("r"))
            .collect()[0]
        )
        stats_out["dropped_buckets"] = int(row["b"])
        stats_out["dropped_rows"] = int(row["r"])
    # persisted: occ feeds the hot-bucket filter inside the probe AND
    # the live bucket_size recount at insert time — unpersisted, the
    # insert re-scans the pruned band index (caller unpersists)
    occ = occ.persist()
    hot = occ.filter(F.col("_n") > max_bucket).select("band", "bucket")
    bk_ok = bk.join(F.broadcast(hot), ["band", "bucket"], "left_anti")

    # corpus x batch candidates (self matches INCLUDED — they identify
    # a prior crashed attempt's inserts), then exact-Jaccard verify.
    # Persisted (batch-sized): self-detection, the sb-prune collect,
    # and the verify all read it — unpersisted, each re-scans the
    # pruned band index.
    cand_cross = (
        pruned.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        .join(
            F.broadcast(bk_ok.select(
                "band", "bucket", F.col("doc_id").alias("doc_b"))),
            ["band", "bucket"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    ).persist()
    scratch += [sig, bk, occ, cand_cross]
    self_ids = cand_cross.filter(F.col("doc_a") == F.col("doc_b")).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    # corpus candidates exclude ALL index rows carrying a CURRENT
    # batch id (not just same-id): stream ids are unique, so those
    # can only be the batch's own insert from a prior crashed
    # attempt. Classifying them as corpus dups would remove their
    # edges from the within-batch graph and make decisions depend on
    # the crash interleaving; the within-batch path (both docs are in
    # ``bk``) covers those pairs identically on every replay.
    #
    # The corpus sig read is statically PRUNED to the candidates' sb
    # partitions (VERDICT r12 item 4: the flat scan re-materialized
    # EVERY stored shingle set per batch — ~6s of the paired gate's
    # 24.6s; the candidates touch a bounded handful of buckets).
    cand_ext = cand_cross.join(
        F.broadcast(sig.select(F.col("doc_id").alias("doc_a"))),
        "doc_a",
        "left_anti",
    )
    n_sb, sb_fn = sig_store_layout(index_path)
    sbs = None
    if n_sb is not None:
        # bucket with the STORE's pinned function (hash for r14+
        # stores, pmod for legacy numeric-id stores — which raise on
        # non-numeric ids instead of pruning to nothing)
        if sb_fn == "pmod":
            _check_pmod_id_type(cand_ext, "doc_a", "admit_text_batch")
        sbs = [
            r["sb"]
            for r in cand_ext.select(
                _sig_bucket("doc_a", n_sb, sb_fn).alias("sb")
            ).distinct().collect()
        ]
    idx_sigs = sig_store_read(spark, index_path, sbs)
    cross = _exact_jaccard(
        cand_ext,
        idx_sigs.select(F.col("doc_id").alias("doc_a"),
                        F.col("hs").alias("hs_a")),
        sig.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
        threshold,
    )
    corpus_dups = (
        cross.groupBy("doc_b")
        .agg(F.max(F.struct(F.col("jaccard").alias("j"),
                            (-F.col("doc_a")).alias("negid"),
                            F.col("doc_a").alias("id"))).alias("_b"))
        .select(F.col("doc_b").alias("doc_id"),
                F.col("_b.id").alias("dup_of"),
                F.round(F.col("_b.j"), 6).alias("jaccard"))
    )

    # LOCALIZE the decision-sized outputs: index rejects, the
    # within-batch candidate+Jaccard graph, components, the decision
    # rows and the insert frames all assemble in plain Python over
    # micro-batch-sized rows instead of ~10 per-batch shuffle
    # micro-stages. They are collected before any append because
    # their plans read the index's bands/sigs parquet, and
    # recacheByPath would re-probe the grown index at the commit. The
    # corpus-side machinery (band-pruned index scan, sb-pruned
    # exact-Jaccard verify) stays fully distributed.
    index_dups = {d: (dup, j) for d, dup, j in corpus_dups.collect()}
    self_set = {r[0] for r in self_ids.collect()}
    sig_rows = [(r[0], r[1]) for r in sig.select("doc_id", "hs").collect()]
    bk_rows = [
        tuple(r) for r in bk.select("doc_id", "band", "bucket").collect()
    ]
    occ_rows = occ.collect()  # touched buckets — batch-sized
    hot_bb = {(r["band"], r["bucket"]) for r in occ_rows
              if r["_n"] > max_bucket}
    return TextProbe(
        index_dups, self_set, sig_rows, bk_rows, occ_rows,
        local_text_within(sig_rows, bk_rows, hot_bb, threshold),
    )


def _insert_text(
    spark: SparkSession, index_path: str, t: TextProbe, admitted
) -> None:
    """Append the admitted docs that are not already durable to the
    text index: sigs, then bands. Every append writes a ONE-SLICE
    driver-local frame — never a plan reading an index path, and no
    per-insert joins.

    ORDERING INVARIANT (crash-window convergence): self-detection
    keys on BAND rows (the probe path), so bands must never exist
    without their signatures. Sigs first means a crash between the
    two appends leaves sig rows whose bands are missing — the replay's
    self-detection finds nothing and re-inserts BOTH (a duplicate sig
    row is benign: candidate pairs are grouped/maxed downstream, and
    the exact-Jaccard value is identical), never band keys whose
    signatures are permanently suppressed."""
    ins_ids = sorted(d for d in admitted if d not in t.self_set)
    hs_by = dict(t.sig_rows)
    sig_store_append(
        one_slice(
            spark, [(d, hs_by[d]) for d in ins_ids],
            "doc_id long, hs array<long>",
        ),
        index_path,
    )
    # live bucket_size: the touched bucket's prior occupancy (the
    # probe's recount) + this batch's own insert delta
    occ_by = {(r["band"], r["bucket"]): r["_n"] for r in t.occ_rows}
    ins_set = set(ins_ids)
    new_bk = [(d, band, bucket) for d, band, bucket in t.bk_rows
              if d in ins_set]
    delta: dict = {}
    for _d, band, bucket in new_bk:
        delta[(band, bucket)] = delta.get((band, bucket), 0) + 1
    sized_rows = [
        (d, bucket, occ_by.get((band, bucket), 0) + delta[(band, bucket)],
         band)
        for d, band, bucket in new_bk
    ]
    one_slice(
        spark, sized_rows,
        "doc_id long, bucket long, bucket_size long, band int",
    ).write.partitionBy("band").mode("append").parquet(
        f"{index_path}/bands"
    )


def admit_text_batch(
    spark: SparkSession,
    docs_batch: DataFrame,
    index_path: str,
    state_dir: str,
    epoch_id: int,
    app_id: str | None = None,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket: int = 1000,
    on_oversize: str = "raise",
    stats_out: dict | None = None,
) -> bool:
    """One micro-batch admission. Also callable from batch jobs.
    Returns True when the epoch was processed, False on a replay of
    an already-committed epoch.

    Decision row per input doc:
    ``(doc_id, admitted, dup_of, jaccard, epoch)`` — ``dup_of`` is
    the max-Jaccard (then min-id) index id for corpus duplicates, the
    component canonical (an ADMITTED smaller batch id — see
    admission_common) for within-batch duplicates, NULL for admitted
    rows. ``num_hashes/bands/n/threshold`` must match
    the values the index was built with."""
    if on_oversize not in ("raise", "drop"):
        raise ValueError(
            f"on_oversize must be 'raise' or 'drop', got {on_oversize!r}"
        )

    def probe(scratch: list) -> Probed:
        t = _text_probe(
            spark, index_path, docs_batch, text_col, threshold,
            num_hashes, bands, n, max_bucket, on_oversize, stats_out,
            what="admit_text_batch", scratch=scratch,
        )
        return Probed(
            ids=[d for d, _hs in t.sig_rows],
            index_dups=t.index_dups,
            batch_dups=within_batch_dups(
                [(a, b, round6(j)) for a, b, j in t.edges], t.index_dups
            ),
            insert=lambda admitted: _insert_text(
                spark, index_path, t, admitted
            ),
        )

    return run_gate(spark, state_dir, epoch_id, app_id, DECISIONS, probe)


def admit_text_stream(
    stream: DataFrame,
    index_path: str,
    state_dir: str,
    checkpoint: str,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int = 1000,
    available_now: bool = True,
    maintenance_every: int | None = 50,
) -> StreamingQuery:
    """Wire the text gate into a streaming query; checkpoint identity
    and the maintenance tick (index sigs deduped, bands merged, and
    the ledger): see :func:`admission_common.start_gate_stream`."""
    admit = partial(
        admit_text_batch, index_path=index_path, state_dir=state_dir,
        text_col=text_col, threshold=threshold, max_bucket=max_bucket,
    )
    return start_gate_stream(
        stream, admit, checkpoint, state_dir, [index_path],
        maintenance_every, available_now,
    )


def read_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """All admission decisions so far (one row per doc seen)."""
    return read_ledger(spark, state_dir, DECISIONS)
