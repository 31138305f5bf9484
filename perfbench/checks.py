"""Correctness checks. Expectations come from the generator, never from
the program; each ``check_*`` returns a list of problems (empty when
the output is correct) and each ``load_*`` reads one output from disk.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

from gen import DocBatch, Interchange


def check_silver(rows: list[tuple[str, str, str]], files: list[Interchange]) -> list[str]:
    """``rows``: (file_name, control number, transaction type) per silver row."""
    got = Counter(rows)
    want = Counter((f.file_name, cn, t) for f in files for t, cn in f.sets)
    problems = []
    if sum(got.values()) != sum(want.values()):
        problems.append(f"silver has {sum(got.values())} rows, generated {sum(want.values())}")
    err = sum(n for (_, _, t), n in got.items() if t == "ERR")
    if err:
        problems.append(f"silver has {err} ERR dead letters")
    by_type = Counter(t for _, _, t in rows)
    want_type = Counter(t for f in files for t, _ in f.sets)
    if by_type != want_type:
        problems.append(f"silver per-type counts {dict(by_type)} != {dict(want_type)}")
    if not problems and got != want:
        problems.append("silver rows differ from the generated transactions")
    return problems


def check_kpi_total(total: int, n_tx: int, what: str = "gold_business_kpis") -> list[str]:
    return [] if total == n_tx else [f"{what} total_transactions {total} != {n_tx}"]


def check_type_counts(counts: dict[str, int], files: list[Interchange]) -> list[str]:
    want = Counter(t for f in files for t, _ in f.sets)
    got = {t: n for t, n in counts.items() if n}
    return [] if got == dict(want) else [f"summary per-type counts {got} != {dict(want)}"]


def check_acks(texts: list[str], files: list[Interchange]) -> list[str]:
    """One 997 per interchange, each valid, addressed back to the
    sender, acknowledging exactly the interchange's sets."""
    from ai_fabric_etl_spark.x12.ack997 import validate_997

    want = {(f.sender, f.icn): sorted((cn, t) for t, cn in f.sets) for f in files}
    problems = []
    if len(texts) != len(want):
        problems.append(f"{len(texts)} acks for {len(want)} interchanges")
    seen = set()
    for text in texts:
        ok, issues = validate_997(text)
        segs = [s.split("*") for s in text.strip().rstrip("~").split("~")]
        isa = segs[0]
        key = (isa[8].strip(), isa[13]) if len(isa) > 13 else None
        acked = sorted((s[2], s[1]) for s in segs if s[0] == "AK2" and len(s) > 2)
        if not ok:
            problems.append(f"invalid 997 {key}: {issues}")
        elif key not in want:
            problems.append(f"997 for unknown interchange {key}")
        elif acked != want[key]:
            problems.append(f"997 {key} acknowledges {acked}, expected {want[key]}")
        elif key in seen:
            problems.append(f"duplicate 997 {key}")
        seen.add(key)
    return problems


def check_decisions(decided: list[tuple[int, bool]], batches: list[DocBatch]) -> list[str]:
    """Every novel doc admitted, every planted near-duplicate rejected,
    each doc decided once."""
    ids = [d for d, _ in decided]
    problems = []
    if len(ids) != len(set(ids)):
        problems.append("a doc was decided more than once")
    admitted = {d for d, a in decided if a}
    rejected = {d for d, a in decided if not a}
    novel = set().union(*(b.novel for b in batches))
    planted = set().union(*(b.planted for b in batches))
    if novel - admitted:
        problems.append(f"{len(novel - admitted)} novel docs not admitted")
    if planted - rejected:
        problems.append(f"{len(planted - rejected)} planted near-duplicates not rejected")
    if set(ids) != novel | planted:
        problems.append("decisions do not cover exactly the docs handed over")
    return problems


# ---------------------------------------------------------------------------
# loaders
# ---------------------------------------------------------------------------

def load_silver(silver_dir: str) -> list[tuple[str, str, str]]:
    import pyarrow.dataset as ds

    t = ds.dataset(silver_dir, format="parquet", partitioning="hive").to_table(
        columns=["file_name", "transaction_set_control_number", "transaction_type"]
    )
    return list(zip(
        t.column(0).to_pylist(), t.column(1).to_pylist(),
        [str(x) for x in t.column(2).to_pylist()],
    ))


def load_kpi_total(gold_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_table(f"{gold_dir}/gold_business_kpis").column("total_transactions").to_pylist())


def load_acks(acks_dir: str) -> list[str]:
    texts = []
    for path in glob.glob(os.path.join(acks_dir, "sender_id=*", "receiver_id=*", "part-*")):
        with open(path, encoding="utf-8") as fh:
            texts += [line for line in fh.read().splitlines() if line]
    return texts
