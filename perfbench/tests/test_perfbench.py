"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import checks
import gen
import pytest
import run
from spans import Tracer
from workloads import RunResult

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


def _ack(f: gen.Interchange) -> str:
    """A well-formed 997 for ``f``, built from the X12 layout by hand."""
    body = ["ST*997*0001", f"AK1*{gen.FUNC_CODES[f.sets[0][0]]}*{int(f.icn)}"]
    for t, cn in sorted(f.sets, key=lambda s: s[1]):
        body += [f"AK2*{t}*{cn}", "AK5*A"]
    body += [f"AK9*A*{len(f.sets)}*{len(f.sets)}*{len(f.sets)}", f"SE*{len(body) + 2}*0001"]
    segs = [
        f"ISA*00*{'':10}*00*{'':10}*ZZ*{f.receiver:<15}*ZZ*{f.sender:<15}"
        f"*250101*0000*^*00501*{f.icn}*0*T*:",
        f"GS*FA*{f.receiver}*{f.sender}*20250101*0000*{int(f.icn)}*X*005010",
        *body, f"GE*1*{int(f.icn)}", f"IEA*1*{f.icn}",
    ]
    return "~".join(segs) + "~"


@pytest.fixture(scope="module")
def files():
    return gen.x12_files(3, 12)


def test_generator_is_deterministic(tmp_path):
    a = gen.x12_files(7, 20)
    assert a == gen.x12_files(7, 20)
    assert a != gen.x12_files(8, 20)
    # file k does not depend on how the corpus is split into batches
    assert a[10:] == gen.x12_files(7, 10, first_file=10)
    for d in ("x", "y"):
        gen.land(a, str(tmp_path / d))
    for f in a:
        assert (tmp_path / "x" / f.file_name).read_bytes() == (tmp_path / "y" / f.file_name).read_bytes()
    index = gen.index_docs(5, 50)
    assert index == gen.index_docs(5, 50)
    assert gen.doc_batch(5, 1, 40, index) == gen.doc_batch(5, 1, 40, index)
    assert gen.doc_batch(5, 1, 40, index) != gen.doc_batch(5, 2, 40, index)


def test_doc_batch_plants_near_duplicates():
    index = gen.index_docs(5, 50)
    b = gen.doc_batch(5, 0, 200, index)
    assert b.novel and b.planted and not b.novel & b.planted
    assert {d for d, _ in b.docs} == b.novel | b.planted
    texts = dict(b.docs) | dict(index)
    for d in b.planted:  # a planted doc is an existing text plus one word
        assert texts[d].rsplit(" ", 1)[0] in texts.values()


def test_silver_check(files):
    rows = [(f.file_name, cn, t) for f in files for t, cn in f.sets]
    assert checks.check_silver(rows, files) == []
    assert checks.check_silver(rows[1:], files)  # a dropped row
    assert checks.check_silver(rows + [("x.x12", "", "ERR")], files)
    swapped = [rows[0][:2] + ("999",)] + rows[1:]
    assert checks.check_silver(swapped, files)


def test_kpi_and_type_checks(files):
    n = sum(len(f.sets) for f in files)
    assert checks.check_kpi_total(n, n) == []
    assert checks.check_kpi_total(n - 1, n)
    counts = {}
    for f in files:
        for t, _ in f.sets:
            counts[t] = counts.get(t, 0) + 1
    assert checks.check_type_counts(counts, files) == []
    t = next(iter(counts))
    assert checks.check_type_counts(counts | {t: counts[t] + 1}, files)


def test_ack_check(files):
    acks = [_ack(f) for f in files]
    assert checks.check_acks(acks, files) == []
    assert checks.check_acks(acks[1:], files)  # a missing ack
    assert checks.check_acks([acks[0].replace("AK9", "AK8")] + acks[1:], files)  # malformed
    assert checks.check_acks([acks[0].rsplit("IEA", 1)[0]] + acks[1:], files)  # truncated
    assert checks.check_acks([acks[1]] + acks[1:], files)  # duplicate, one missing


def test_decision_check():
    index = gen.index_docs(5, 50)
    b = gen.doc_batch(5, 0, 100, index)
    good = [(d, d in b.novel) for d, _ in b.docs]
    assert checks.check_decisions(good, [b]) == []
    dup = next(iter(b.planted))
    assert checks.check_decisions([(d, a or d == dup) for d, a in good], [b])
    novel = next(iter(b.novel))
    assert checks.check_decisions([(d, a and d != novel) for d, a in good], [b])
    assert checks.check_decisions(good[1:], [b])


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_self_time_subtracts_children():
    t = Tracer(_FakeContext())
    with t.span("run"):
        with t.span("bronze.read_bronze"):
            pass
        with t.span("silver.write_silver"):
            with t.span("silver.parse_to_silver"):
                pass
    run_span = t.spans[0]
    kids = sum(s.wall for s in t.children(0))
    assert t.self_time(0) == pytest.approx(run_span.wall - kids)
    assert t.outermost(lambda s: s.layer == "silver") == [2]
    assert t.sc.props["spark.jobGroup.id"] is None


def test_metric_names():
    with open(BENCHMARK, encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in spec[kind]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n


def test_traced_run_computes_every_per_layer_metric():
    with open(BENCHMARK, encoding="utf-8") as fh:
        wanted = {m["name"] for m in json.load(fh)["per_layer"]}
    t = Tracer(_FakeContext())
    t.run = "run2"
    with t.span("run"):
        pass
    r = RunResult(1.0, 1.0, 1.0, 1.0, landed_bytes=10)
    got = set(run._layer_metrics(t, {}, [("run2", r)]))
    outside = {"host.cpu_probe_s", "trace.run_s"} | {n for n in wanted if n.startswith("session.")}
    assert wanted - outside <= got
