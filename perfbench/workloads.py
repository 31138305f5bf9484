"""The benchmark's workloads. Each drives the program's real entry
points in-process and is closed-loop: the next run starts only after
the previous one has committed.

A workload is built once per process (inputs generated), ``prepare()``
does its set-up inside the Spark session, ``run(k)`` executes run
number ``k`` and returns a :class:`RunResult`, and ``check`` compares
that run's outputs with the generator's expectations.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass, field

import checks
import gen


@dataclass
class RunResult:
    wall_s: float
    batch_latency_s: float  # one batch: the batch run, or the gate batch of a cadence tick
    silver_ready_s: float  # until silver is committed
    acks_ready_s: float  # until the partner-facing output (997s, or the marts) is committed
    failed: int = 0  # batches of this run that failed their check
    outputs: dict[str, list[str]] = field(default_factory=dict)  # layer -> directories it wrote
    landed_bytes: int = 0
    admitted: int = 0
    rejected: int = 0


def _since(t0: float, marker: str) -> float:
    return os.stat(marker).st_mtime - t0


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


class BatchSmallFiles:
    """One ``run --stage all`` of the CLI over ~600-byte testgen-shaped
    files (1-3 sets each, 6 partner pairs) into a fresh warehouse."""

    name = "batch_small_files"
    BATCHES = 1

    N_FILES = 128

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.work = work
        self.files = gen.x12_files(seed, self.N_FILES)
        self.n_tx = sum(len(f.sets) for f in self.files)
        self.landing = os.path.join(work, "landing")
        self.landed_bytes = gen.land(self.files, self.landing)

    def prepare(self) -> None:
        """Start one Python worker per core with pandas and pyarrow
        loaded, as the pipeline's mapInPandas and pandas_udf steps need
        them, so that the run does not pay for it."""
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()

    def run(self, k: int, tracer=None) -> RunResult:
        from ai_fabric_etl_spark import run as cli

        out = os.path.join(self.work, f"wh{k}")
        t0 = time.time()
        with _span(tracer, "run"), contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(["run", "--input", self.landing, "--out", out, "--stage", "all"])
        wall = time.time() - t0
        if rc != 0:
            raise RuntimeError(f"run exited with {rc}")
        return RunResult(
            wall_s=wall,
            batch_latency_s=wall,
            silver_ready_s=_since(t0, f"{out}/silver/_SUCCESS"),
            acks_ready_s=_since(t0, f"{out}/acks/_SUCCESS"),
            outputs={"silver": [f"{out}/silver"], "gold": [f"{out}/gold"], "ack997": [f"{out}/acks"]},
            landed_bytes=self.landed_bytes,
        )

    def check(self, r: RunResult) -> list[str]:
        (silver,), (gold,), (acks,) = r.outputs["silver"], r.outputs["gold"], r.outputs["ack997"]
        problems = (
            checks.check_silver(checks.load_silver(silver), self.files)
            + checks.check_kpi_total(checks.load_kpi_total(gold), self.n_tx)
            + checks.check_acks(checks.load_acks(acks), self.files)
        )
        r.failed = 1 if problems else 0
        return problems


class CadenceStream:
    """The streaming mode on a fixed cadence. Each run is one tick: it
    lands 50 files and drains them with ``availableNow`` through the
    silver ingest, then through ``start_gold_incremental`` over the
    silver directory; then 100 docs with planted near-duplicates go
    through the text admission gate. Set-up builds the gate's MinHash
    index and folds one untimed batch of 50 files, which creates the
    mart state, so every measured batch merges into existing state."""

    name = "cadence_stream"
    BATCHES = 2  # one cadence batch and one gate batch per run
    FILES_PER_TICK = 50
    INDEX_DOCS = 1000
    DOCS = 100

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self._index_rows = gen.index_docs(seed, self.INDEX_DOCS)
        self.files: list[gen.Interchange] = []  # landed so far
        self.doc_batches: list[gen.DocBatch] = []  # handed to the gate so far
        self.dirs = {n: os.path.join(work, n) for n in (
            "landing", "silver", "ckpt_ingest", "gold_state", "ckpt_gold", "index", "decisions")}

    def prepare(self) -> None:
        """Build the gate's index, then fold cadence batch 0."""
        from ai_fabric_etl_spark.operators.dedup import minhash_index_write

        docs = self.spark.createDataFrame(self._index_rows, "doc_id long, text string")
        minhash_index_write(docs, self.dirs["index"])
        self._cadence_batch(0)

    def _cadence_batch(self, n: int, tracer=None) -> tuple[float, float]:
        """Land cadence batch ``n`` and drain it through the silver
        ingest and the incremental gold. Returns the seconds until
        silver, and until the marts, are committed."""
        from ai_fabric_etl_spark.schemas import SILVER_SCHEMA
        from ai_fabric_etl_spark.streaming.gold_stream import start_gold_incremental
        from ai_fabric_etl_spark.streaming.ingest import start_silver_ingest

        d = self.dirs
        files = gen.x12_files(self.seed, self.FILES_PER_TICK, first_file=n * self.FILES_PER_TICK)
        gen.land(files, d["landing"])
        self.files += files
        t0 = time.time()
        with _span(tracer, "ingest"):
            start_silver_ingest(self.spark, d["landing"], d["silver"], d["ckpt_ingest"],
                                batch_id=f"tick{n}").awaitTermination()
        t1 = time.time()
        with _span(tracer, "gold_stream"):
            stream = self.spark.readStream.schema(SILVER_SCHEMA).parquet(d["silver"])
            start_gold_incremental(stream, d["gold_state"], d["ckpt_gold"]).awaitTermination()
        return t1 - t0, time.time() - t0

    def run(self, k: int, tracer=None) -> RunResult:
        from ai_fabric_etl_spark.streaming.text_admission import admit_text_batch

        d = self.dirs
        silver_s, marts_s = self._cadence_batch(k + 1, tracer)
        batch = gen.doc_batch(self.seed, k, self.DOCS, self._index_rows)
        self.doc_batches.append(batch)
        t = time.time()
        with _span(tracer, "text_admission"):
            docs = self.spark.createDataFrame(list(batch.docs), "doc_id long, text string")
            admit_text_batch(self.spark, docs, d["index"], d["decisions"], epoch_id=k, app_id="perfbench")
        gate_s = time.time() - t
        return RunResult(
            wall_s=marts_s + gate_s,
            batch_latency_s=gate_s,
            silver_ready_s=silver_s,
            acks_ready_s=marts_s,
            outputs={"silver": [d["silver"]], "merge": [d["gold_state"], d["decisions"]],
                     "dedup": [d["index"]]},
        )

    def check(self, r: RunResult) -> list[str]:
        from pyspark.sql import functions as F

        from ai_fabric_etl_spark.streaming.gold_stream import (
            read_incremental_kpis,
            read_incremental_summary,
        )
        from ai_fabric_etl_spark.streaming.text_admission import read_decisions

        state, decisions = r.outputs["merge"]
        kpi = sum(row[0] for row in read_incremental_kpis(self.spark, f"{state}/kpis")
                  .select("total_transactions").collect())
        by_type = {row[0]: row[1] for row in read_incremental_summary(self.spark, f"{state}/summary")
                   .groupBy("transaction_type").agg(F.sum("transaction_count")).collect()}
        cadence = (
            checks.check_kpi_total(kpi, sum(len(f.sets) for f in self.files), "incremental KPI")
            + checks.check_type_counts(by_type, self.files)
        )
        decided = [(row[0], row[1]) for row in read_decisions(self.spark, decisions)
                   .select("doc_id", "admitted").collect()]
        gate = checks.check_decisions(decided, self.doc_batches)
        r.admitted = sum(1 for _, a in decided if a)
        r.rejected = len(decided) - r.admitted
        r.failed = (1 if cadence else 0) + (1 if gate else 0)
        return cadence + gate


WORKLOADS = {w.name: w for w in (BatchSmallFiles, CadenceStream)}
