"""Seeded input generators for the benchmark.

The X12 segment shapes follow the repository's test corpus (nine
transaction types, one functional group per interchange, ISA15=T) but
are written out here on purpose: a change to the program must never
change what the benchmark feeds it. Everything is a pure function of
its arguments, so one seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import random
import string
from dataclasses import dataclass

PROVIDERS = [("PROV%03d" % i, "%010d" % (1112223334 + 1111111 * i)) for i in range(1, 6)]
PAYERS = ["PAYER%03d" % i for i in range(1, 6)]
FUNC_CODES = {
    "837": "HC", "835": "HP", "834": "BE", "270": "HS", "271": "HB",
    "276": "HR", "277": "HN", "278": "HI", "279": "HI",
}
TYPES = list(FUNC_CODES)
SETS_PER_FILE = (1, 3)  # transaction sets per interchange, inclusive
SENDERS = 3
RECEIVERS = 2  # 6 partner pairs


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _body(t: str, rng: random.Random, cn: int) -> list[str]:
    """Body segments (between ST and SE) of one transaction set."""
    prov, npi = rng.choice(PROVIDERS)
    if t == "837":
        amounts = [_money(rng, 50, 2000) for _ in range(rng.randint(1, 5))]
        body = [
            f"BHT*0019*00*REF{cn}*20250101*1200*CH",
            f"NM1*85*2*{prov}*****XX*{npi}",
            "NM1*IL*1*DOE*JANE****MI*MBR001",
            "NM1*QC*1*DOE*JANE",
            f"CLM*CLM{cn}*{round(sum(amounts), 2)}***11:B:1*Y*A*Y*Y",
        ]
        for i, amt in enumerate(amounts):
            body += [f"SV1*HC:9921{i}*{amt}*UN*{rng.randint(1, 4)}***1", "DTP*472*D8*20250101"]
        return body
    if t == "835":
        claims = []
        for _ in range(rng.randint(1, 3)):
            charge = _money(rng, 100, 3000)
            paid = round(charge * rng.uniform(0.5, 1.0), 2)
            claims.append((charge, paid, round(charge - paid, 2)))
        total = round(sum(p for _, p, _ in claims), 2)
        body = [
            f"BPR*I*{total}*C*ACH*CCP***********20250101",
            f"TRN*1*TRACE{cn}*1234567890",
            f"N1*PR*{rng.choice(PAYERS)}",
            "N1*PE*PROVIDER CLINIC",
        ]
        for i, (charge, paid, pr) in enumerate(claims):
            body += [
                f"CLP*PMT{cn}{i}*1*{charge}*{paid}*{pr}*12*ICN{cn}{i}",
                f"SVC*HC:99213*{charge}*{paid}**{rng.randint(1, 3)}",
            ]
        return body
    if t == "834":
        body = [f"BGN*00*REF{cn}*20250101*1200", "N1*P5*ACME CORP*FI*123456789"]
        for i in range(rng.randint(1, 4)):
            body += [
                f"INS*Y*18*{rng.choice(['021', '024', '001'])}*XN*A*E**FT",
                f"NM1*IL*1*SMITH*PAT****34*SSN{cn}{i}",
                "HD*021**HLT*PLAN A",
            ]
        return body
    if t == "270":
        body = [
            f"BHT*0022*13*ELI{cn}*20250101*1200", "HL*1**20*1",
            f"NM1*1P*2*{prov}*****XX*{npi}", "NM1*IL*1*DOE*JOHN****MI*MBR002",
        ]
        return body + [f"EQ*{rng.choice(['30', '1', '47', '88'])}" for _ in range(rng.randint(1, 3))]
    if t == "271":
        body = [
            f"BHT*0022*11*ELI{cn}*20250101*1200", "HL*1**20*1",
            f"NM1*PR*2*{rng.choice(PAYERS)}", "NM1*IL*1*DOE*JOHN****MI*MBR002",
        ]
        for _ in range(rng.randint(1, 4)):
            body.append(
                f"EB*{rng.choice(['1', '6', 'C'])}*IND*30**{rng.choice(['', 'GOLD'])}"
                f"**{_money(rng, 0, 500)}*{_money(rng, 0, 1)}"
            )
        return body
    if t == "276":
        return [
            f"BHT*0010*13*STA{cn}*20250101*1200", f"TRN*1*TRC{cn}*9876543210",
            f"NM1*1P*2*{prov}*****XX*{npi}", "NM1*IL*1*DOE*JOHN****MI*MBR003",
        ]
    if t == "277":
        body = [f"BHT*0010*08*STA{cn}*20250101*1200", f"NM1*PR*2*{rng.choice(PAYERS)}"]
        for _ in range(rng.randint(1, 3)):
            charge = _money(rng, 100, 2000)
            body.append(f"STC*A1:20*20250101*WQ*{charge}*{round(charge * rng.uniform(0, 1), 2)}")
        return body
    if t == "278":
        body = [
            f"BHT*0007*13*AUTH{cn}*20250101*1200", "HL*1**20*1", "NM1*X3*2*UMO ORG",
            f"NM1*1P*2*{prov}*****XX*{npi}", "UM*HS*I*2",
        ]
        for i in range(rng.randint(1, 3)):
            body.append(f"SV1*HC:9928{i}*{_money(rng, 100, 5000)}*UN*{rng.randint(1, 10)}")
        return body + ["DTP*472*D8*20250110"]
    # 279
    codes = ["A1", "A2", "A3", "A4", "A6", "CT", "DJ", "PA", "PN"]
    body = [f"BHT*0007*11*AUTH{cn}*20250101*1200", "HL*1**20*1"]
    body += [f"HCR*{rng.choice(codes)}*CERT{cn}{i}" for i in range(rng.randint(1, 3))]
    return body + ["MSG*REVIEW COMPLETE"]


@dataclass(frozen=True)
class Interchange:
    """One landed file: one ISA..IEA holding one functional group."""

    file_name: str
    sender: str
    receiver: str
    icn: str
    sets: tuple[tuple[str, str], ...]  # (transaction type, ST02 control number)
    text: str


def x12_files(seed: int, n_files: int, first_file: int = 0) -> list[Interchange]:
    """``n_files`` interchanges numbered from ``first_file``; file k's
    content depends only on (seed, k), so a stream of batches is the
    same corpus whatever the batch size."""
    out = []
    for k in range(first_file, first_file + n_files):
        rng = random.Random(f"x12:{seed}:{k}")
        t = rng.choice(TYPES)
        sender = f"SND{rng.randrange(SENDERS):03d}"
        receiver = f"RCV{rng.randrange(RECEIVERS):03d}"
        icn = f"{k + 1:09d}"
        segs = [
            f"ISA*00*{'':10}*00*{'':10}*ZZ*{sender:<15}*ZZ*{receiver:<15}"
            f"*250101*1200*^*00501*{icn}*0*T*:",
            f"GS*{FUNC_CODES[t]}*{sender}*{receiver}*20250101*1200*{k + 1}*X*005010X222A1",
        ]
        sets = []
        for j in range(rng.randint(*SETS_PER_FILE)):
            cn = f"{j + 1:09d}"
            inner = [f"ST*{t}*{cn}", *_body(t, rng, k * 1000 + j)]
            segs += inner + [f"SE*{len(inner) + 1}*{cn}"]
            sets.append((t, cn))
        segs += [f"GE*{len(sets)}*{k + 1}", f"IEA*1*{icn}"]
        out.append(Interchange(
            f"f{k:07d}_{t}.x12", sender, receiver, icn, tuple(sets), "~".join(segs) + "~"
        ))
    return out


def land(files: list[Interchange], directory: str) -> int:
    """Write the files (via a temp name, then rename, so a directory
    scan never sees half a file); returns the bytes landed."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for f in files:
        data = f.text.encode()
        tmp = os.path.join(directory, f".{f.file_name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(directory, f.file_name))
        total += len(data)
    return total


# ---------------------------------------------------------------------------
# text documents for the admission gate
# ---------------------------------------------------------------------------

DOC_WORDS = 40
DUP_SHARE = 0.3  # share of a gate batch that is planted near-duplicates


def _vocab(seed: int, size: int = 4000) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    words = set()
    while len(words) < size:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(4, 9))))
    return sorted(words)


def _doc(rng: random.Random, vocab: list[str]) -> str:
    return " ".join(rng.choices(vocab, k=DOC_WORDS))


def _near(rng: random.Random, text: str, vocab: list[str]) -> str:
    """A planted near-duplicate: one extra word at the end, which keeps
    word-3-gram Jaccard at 38/39 with its source."""
    return f"{text} {rng.choice(vocab)}"


def index_docs(seed: int, n: int) -> list[tuple[int, str]]:
    """The corpus the persisted MinHash index is built from (ids 0..n-1)."""
    vocab = _vocab(seed)
    rng = random.Random(f"index:{seed}")
    return [(i, _doc(rng, vocab)) for i in range(n)]


@dataclass(frozen=True)
class DocBatch:
    docs: tuple[tuple[int, str], ...]
    novel: frozenset[int]  # must be admitted
    planted: frozenset[int]  # near-duplicates that must be rejected


def doc_batch(seed: int, batch_no: int, size: int, index: list[tuple[int, str]]) -> DocBatch:
    """``size`` docs with ids disjoint from the index and from every
    other batch. About ``DUP_SHARE`` of them are planted near-duplicates,
    half of an index doc and half of a novel doc earlier in the same
    batch (the within-batch survivor is the smaller id)."""
    vocab = _vocab(seed)
    rng = random.Random(f"batch:{seed}:{batch_no}")
    base = 10_000_000 * (batch_no + 1)
    docs: dict[int, str] = {}
    novel: list[int] = []
    planted: list[int] = []
    for doc_id in range(base, base + size):
        roll = rng.random()
        if roll >= DUP_SHARE:
            docs[doc_id] = _doc(rng, vocab)
            novel.append(doc_id)
            continue
        if roll < DUP_SHARE / 2 or not novel:
            source = rng.choice(index)[1]
        else:
            source = docs[rng.choice(novel)]
        docs[doc_id] = _near(rng, source, vocab)
        planted.append(doc_id)
    return DocBatch(tuple(docs.items()), frozenset(novel), frozenset(planted))
