"""Temperature mixture sampling, tf-idf keyword export, and the
equi-depth histogram: semantic invariants beyond the oracle hashes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_temperature_mixture_quotas_and_flattening(spark, sf_dir):
    """Quotas follow the integer-sqrt recipe exactly; the mixture is
    flatter than the corpus (max source share shrinks) and never
    upsamples; selection is deterministic and growth-stable."""
    from ai_fabric_etl_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    target = 60
    out = temperature_mixture_sample(
        docs, by="source", key="doc_id", target=target, salt="mix"
    )
    got = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in docs.groupBy("source").count().collect()}
    w = {s: math.ceil(math.sqrt(n)) for s, n in counts.items()}
    tw = sum(w.values())
    expect = {s: min(counts[s], target * w[s] // tw) for s in counts}
    assert {r.source: r["count"] for r in got} == {
        s: k for s, k in expect.items() if k > 0
    }
    # flattening: the dominant source's share of the SAMPLE is <= its
    # corpus share (alpha=0.5 compresses the head)
    n_total = sum(counts.values())
    k_total = sum(expect.values())
    top = max(counts, key=lambda s: counts[s])
    assert expect[top] / k_total <= counts[top] / n_total + 1e-9
    # determinism
    again = {
        r.source: r["count"]
        for r in temperature_mixture_sample(
            docs, by="source", key="doc_id", target=target, salt="mix"
        ).groupBy("source").count().collect()
    }
    assert again == {r.source: r["count"] for r in got}


def test_temperature_mixture_growth_stability(spark, sf_dir):
    """A surviving doc is evicted only by priority competition: with
    the same quotas, the winner set within each source is the bottom-k
    of md5 priorities — verified against a pandas replay."""
    import hashlib

    from ai_fabric_etl_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    out = temperature_mixture_sample(
        docs, by="source", key="doc_id", target=40, salt="mix"
    )
    got = {(r.source, r.doc_id) for r in out.collect()}
    rows = [(r.source, r.doc_id) for r in docs.collect()]
    bysrc: dict[str, list] = {}
    for s, d in rows:
        prio = hashlib.md5(f"{d}-mix".encode()).hexdigest()
        bysrc.setdefault(s, []).append((prio, d))
    quotas = {}
    counts = {s: len(v) for s, v in bysrc.items()}
    w = {s: math.ceil(math.sqrt(n)) for s, n in counts.items()}
    tw = sum(w.values())
    for s, n in counts.items():
        quotas[s] = min(n, 40 * w[s] // tw)
    want = {
        (s, d)
        for s, lst in bysrc.items()
        for _, d in sorted(lst)[: quotas[s]]
    }
    assert got == want


def test_tfidf_topk_ranks_and_bounds(spark, sf_dir):
    """Per doc: at most k rows, ranks 1..m contiguous, scores
    non-increasing, and every score == round(tf * ln-idf, 6)."""
    from ai_fabric_etl_spark.operators.search import tfidf_topk_terms

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    n_docs = docs.count()
    out = tfidf_topk_terms(docs, k=4, min_df=2).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert per_doc, "no output"
    for rows in per_doc.values():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) <= 4
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
        for r in rows:
            idf = math.log(1.0 + (n_docs - r.df + 0.5) / (r.df + 0.5))
            assert abs(r.score - round(r.tf * idf, 6)) < 1e-9
            assert r.df >= 2


def test_equidepth_histogram_depth_and_ranges(spark, sf_dir):
    """Bucket populations differ by at most 1 inside a group, ranges
    are non-overlapping and ordered, and totals are preserved."""
    from ai_fabric_etl_spark.operators.profile import histogram_equidepth

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderstatus", "o_totalprice", "o_orderkey"
    )
    out = histogram_equidepth(
        orders, col="o_totalprice", tiebreak="o_orderkey", bins=8,
        by=["o_orderstatus"],
    ).collect()
    want_totals = {
        r.o_orderstatus: r["count"]
        for r in orders.groupBy("o_orderstatus").count().collect()
    }
    by_grp: dict[str, list] = {}
    for r in out:
        by_grp.setdefault(r.o_orderstatus, []).append(r)
    for grp, rows in by_grp.items():
        rows.sort(key=lambda r: r.bin_id)
        ns = [r.n_rows for r in rows]
        assert max(ns) - min(ns) <= 1, f"not equi-depth in {grp}"
        assert sum(ns) == want_totals[grp]
        for a, b in zip(rows, rows[1:]):
            assert a.hi <= b.lo  # ranges ordered (ties split by key)


def test_equidepth_global_uses_distributed_ntile(spark, sf_dir):
    """Ungrouped equi-depth goes through ranking.global_ntile — same
    depth invariant, no single-task window over the data."""
    from ai_fabric_etl_spark.operators.profile import histogram_equidepth
    from ai_fabric_etl_spark.plans.inspect import plan_string

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_totalprice", "o_orderkey"
    )
    out = histogram_equidepth(
        orders, col="o_totalprice", tiebreak="o_orderkey", bins=10
    )
    assert "ntile" not in plan_string(out, "simple").lower()
    rows = out.collect()
    ns = [r.n_rows for r in rows]
    assert len(rows) == 10 and max(ns) - min(ns) <= 1


def test_temperature_mixture_null_source_is_first_class(spark):
    """A NULL source earns a quota and emits rows (null-safe quota
    join); its presence must not deflate other sources' quotas beyond
    its fair weight share."""
    from ai_fabric_etl_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = (
        [(i, "a") for i in range(100)]
        + [(i + 100, "b") for i in range(100)]
        + [(i + 200, None) for i in range(100)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = temperature_mixture_sample(
        df, by="source", key="doc_id", target=30, salt="mix"
    )
    got = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    # three equal sources, w=10 each, tw=30 -> quota 10 each
    assert got == {"a": 10, "b": 10, None: 10}


def test_equidepth_histogram_ignores_null_values_both_paths(spark):
    """NULL values are excluded from binning on BOTH the grouped and
    ungrouped paths (they used to be silently counted into bucket 1
    ungrouped)."""
    from ai_fabric_etl_spark.operators.profile import histogram_equidepth

    rows = [(i, float(i % 4) if i % 5 else None, "g") for i in range(20)]
    df = spark.createDataFrame(rows, ["k", "v", "g"])
    n_valid = sum(1 for _, v, _ in rows if v is not None)
    for by in ([], ["g"]):
        out = histogram_equidepth(
            df, col="v", tiebreak="k", bins=4, by=by
        ).collect()
        assert sum(r.n_rows for r in out) == n_valid, f"by={by}"
        ns = [r.n_rows for r in out]
        assert max(ns) - min(ns) <= 1


def test_editdistance_ids_survive_large_keys(spark):
    """The ER/editdistance variant-id offsets derive from max(key)+1,
    so synthetic ids can never collide with base ids even when keys
    exceed any fixed literal."""
    from ai_fabric_etl_spark.queries.text_queries import (
        q_er_resolve_entities,
    )
    import tempfile

    names = [
        "crimson anchor plate",
        "turquoise widget drum",
        "olive sprocket vane",
        "magenta flywheel rod",
        "cobalt gasket frame",
        "amber piston shell",
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(10_000_000 + i, n) for i, n in enumerate(names)],
            ["p_partkey", "p_name"],
        ).write.parquet(f"{d}/part.parquet")
        out = q_er_resolve_entities(spark, d).collect()
        # every base name resolves to its own entity (names mutually
        # far apart); planted typos attach to their original, which
        # only holds if variant ids never collide with base ids
        assert len(out) == 6
        assert {r.canonical_text for r in out} == set(names)
        assert sum(r.n_records for r in out) > 6  # typos joined in


def test_triangle_counts_known_graph(spark):
    """K4 plus a pendant vertex: K4 has 4 triangles, each K4 vertex
    sits in 3 of them, the pendant in none."""
    from ai_fabric_etl_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(4, 9)], ["u", "v"])
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_orientation_handles_hub(spark):
    """A star (hub + 50 leaves) has no triangles at all — the oriented
    wedge join must return empty rather than enumerating the hub's
    quadratic wedge space into spurious output; adding one leaf-leaf
    edge creates exactly one triangle."""
    from ai_fabric_etl_spark.operators.graph import triangle_counts

    star = [(0, i) for i in range(1, 51)]
    assert triangle_counts(spark.createDataFrame(star, ["u", "v"])).count() == 0
    got = {
        r.node: r.n_triangles
        for r in triangle_counts(
            spark.createDataFrame(star + [(1, 2)], ["u", "v"])
        ).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_broadcast_threshold_bytes_parses_every_size_form(spark):
    """The triangle broadcast gate reads the threshold as Spark parses
    it: unit suffixes with and without 'b', the -1 off switch, and a
    bare byte count."""
    from ai_fabric_etl_spark.operators.graph import _broadcast_threshold_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        for raw, want in [
            ("10mb", 10 * 1024**2),
            ("512kb", 512 * 1024),
            ("1g", 1024**3),
            ("-1", -1),
            ("123456", 123456),
        ]:
            spark.conf.set(key, raw)
            assert _broadcast_threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, prior)


def test_pq_recall_and_compression(spark, sf_dir):
    """The production PQ pipeline (OPQ balanced permutation +
    m=8/k=64 codebooks + ADC shortlist 200 + exact rerank): pooled
    recall@5 >= 0.7 vs cosine brute force (VERDICT r4 item 8 floor;
    measured 1.0 at sf0.01 and sf0.1); codes are m=8 ints in [0, 64);
    encode is deterministic; the permutation is a true permutation."""
    from ai_fabric_etl_spark.operators import similarity

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    perm = similarity.opq_permutation(raw, m=8)
    assert sorted(perm) == list(range(64))
    emb = similarity.apply_permutation(similarity.normalize_l2(raw), perm)
    q = emb.filter(F.col("vec_id") < 8)
    books = similarity.pq_train(emb, m=8, k=64)
    codes = similarity.pq_encode(emb, books)
    rows = codes.collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 64 for r in rows for c in r.codes)
    again = {r.vec_id: list(r.codes) for r in similarity.pq_encode(emb, books).collect()}
    assert again == {r.vec_id: list(r.codes) for r in rows}

    ap = similarity.pq_topk(codes, books, q, k=5, rerank=200, corpus=emb)
    bf = similarity.brute_force_topk(emb, q, k=5)
    a = {(r.query_id, r.neighbor_id) for r in ap.collect()}
    b = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    assert len(a & b) / len(b) >= 0.7

    # no-rerank path returns the raw ADC ranking with approx_dist
    adc = similarity.pq_topk(codes, books, q, k=5)
    assert "approx_dist" in adc.columns and adc.count() == 40


def test_pq_rerank_requires_corpus(spark, sf_dir):
    import pytest

    from ai_fabric_etl_spark.operators import similarity

    emb = similarity.normalize_l2(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    books = similarity.pq_train(emb, m=8, k=16)
    codes = similarity.pq_encode(emb, books)
    with pytest.raises(ValueError):
        similarity.pq_topk(
            codes, books, emb.filter(F.col("vec_id") < 2), k=5, rerank=20
        ).collect()


def test_drift_psi_detects_shift_not_noise(spark, sf_dir):
    """Identical-distribution split (even/odd keys) yields near-zero
    total PSI; a deterministic price shift yields a clearly larger
    one. Per-bin counts conserve each sample."""
    from ai_fabric_etl_spark.operators.profile import drift_psi

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    ref = orders.filter(F.col("o_orderkey") % 2 == 0)
    same = orders.filter(F.col("o_orderkey") % 2 == 1)
    shifted = same.withColumn("o_totalprice", F.col("o_totalprice") * 1.5)

    def total_psi(cur):
        rows = drift_psi(
            ref, cur, col="o_totalprice", tiebreak="o_orderkey", bins=8
        ).collect()
        assert len(rows) == 8
        return sum(r.psi_term_micro for r in rows) / 1e6, rows

    psi_same, rows_same = total_psi(same)
    psi_shift, _ = total_psi(shifted)
    assert psi_same < 0.1  # stable regime
    assert psi_shift > psi_same * 3  # drift clearly separates
    assert sum(r.ref_n for r in rows_same) == ref.count()
    assert sum(r.cur_n for r in rows_same) == same.count()


def test_skew_gini_bounds_and_uniform_case(spark):
    """Uniform keys give Gini ~0; one dominant key pushes it up and
    max_key_share tracks the hot key exactly."""
    from ai_fabric_etl_spark.operators.profile import skew_gini

    uniform = spark.createDataFrame(
        [(i % 50,) for i in range(500)], ["k"]
    )
    r = skew_gini(uniform, key="k").collect()[0]
    assert r.n_keys == 50 and r.n_rows == 500
    assert abs(r.gini) < 1e-6 and abs(r.max_key_share - 0.02) < 1e-6

    skewed = spark.createDataFrame(
        [(0,)] * 451 + [(i,) for i in range(1, 50)], ["k"]
    )
    s = skew_gini(skewed, key="k").collect()[0]
    assert s.max_key_share > 0.9 and s.gini > 0.85


def test_target_encoding_excludes_own_fold(spark, sf_dir):
    """Leakage check: each (category, fold) encoding equals the
    smoothed mean computed over OUT-of-fold rows only — replayed in
    pandas from the raw table."""
    import hashlib

    from ai_fabric_etl_spark.queries.training_queries import (
        q_feature_target_encoding,
    )

    got = {
        (r.category, r.fold): (r.n_in_fold, r.n_out_of_fold, r.encoding)
        for r in q_feature_target_encoding(spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    cell_n = defaultdict(int)
    cell_s = defaultdict(Decimal)
    total_s, total_n = Decimal(0), 0
    for r in rows:
        f = (
            int(
                hashlib.md5(f"{r.o_orderkey}-kfold".encode()).hexdigest()[:8],
                16,
            )
            % 5
        )
        y = Decimal(str(round(r.o_totalprice, 2)))
        cell_n[(r.o_orderpriority, f)] += 1
        cell_s[(r.o_orderpriority, f)] += y
        total_s += y
        total_n += 1
    prior = round(float(total_s) / total_n, 6)
    for (cat, f), (n_in, n_out, enc) in got.items():
        assert n_in == cell_n[(cat, f)]
        s_c = sum(v for (c, _), v in cell_s.items() if c == cat)
        n_c = sum(v for (c, _), v in cell_n.items() if c == cat)
        assert n_out == n_c - n_in
        want = round(
            (float(s_c - cell_s[(cat, f)]) + 10 * prior) / (n_out + 10), 6
        )
        assert abs(enc - want) < 1e-6, (cat, f)


def test_trigram_backoff_hand_computed(spark):
    """Tiny corpus, hand-verifiable, exercising all three stupid-
    backoff branches. The holdout split is the md5-bucket idiom
    (r10): ids are CHOSEN by computing the bucket in-test — 0/1/2
    land in train (bucket != 0), 3/13/20/21 in the holdout (== 0).
    Train counts: uni a=2,b=2,c=2,d=1,x=1,y=1 (N=9, V=6), big
    (a,b)=2 (b,c)=2 (c,d)=1 (x,y)=1, tri (a,b,c)=2 (b,c,d)=1."""
    import hashlib
    import math

    from ai_fabric_etl_spark.operators.text import trigram_lm_scores

    def bucket(i):
        h = hashlib.md5(f"{i}-trigram".encode()).hexdigest()[:15]
        return int(h, 16) % 5

    assert [bucket(i) != 0 for i in (0, 1, 2)] == [True] * 3
    assert [bucket(i) for i in (3, 13, 20, 21)] == [0] * 4
    docs = spark.createDataFrame(
        [
            (0, "a b c d"), (1, "a b c"), (2, "x y"),  # train
            (3, "a b c d"),   # both trigrams seen
            (13, "q x y"),    # trigram unseen, bigram (x,y) seen
            (20, "a b q"),    # trigram+bigram unseen -> unigram base
            (21, "z"),        # no trigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_trigrams, r.avg_nll_micro)
           for r in trigram_lm_scores(docs).collect()}

    def micro(terms):
        s = round(-sum(terms) * 1_000_000)
        n = len(terms)
        return (2 * s + n) // (2 * n)

    t_abc = round(math.log(2 / 2), 6)          # tri branch
    t_bcd = round(math.log(1 / 2), 6)          # tri branch
    t_qxy = round(math.log(0.4 * 1 / 1), 6)    # bigram backoff, u(x)=1
    t_abq = round(math.log(0.16 * 1 / 24), 6)  # base, u(q)=0, 2N+V=24
    assert got[3] == (2, micro([t_abc, t_bcd]))
    assert got[13] == (1, micro([t_qxy]))
    assert got[20] == (1, micro([t_abq]))
    assert got[21] == (0, None)
    # unseen-everything transitions score strictly worse (higher NLL)
    assert got[20][1] > got[13][1] > got[3][1]


def test_trigram_backoff_string_ids(spark):
    """String doc ids are first-class under the hash-mod holdout
    (the r9 numeric-only `% mod` gap): the split must be the md5
    bucket of the STRING id, scored docs must be exactly the
    bucket-0 ids, and every holdout doc scores."""
    import hashlib

    from ai_fabric_etl_spark.operators.text import trigram_lm_scores

    names = [f"doc-{c}" for c in "abcdefgh"]

    def bucket(s):
        h = hashlib.md5(f"{s}-trigram".encode()).hexdigest()[:15]
        return int(h, 16) % 5

    holdout = {s for s in names if bucket(s) == 0}
    assert holdout  # the fixture must actually exercise the split
    docs = spark.createDataFrame(
        [(s, "the quick brown fox jumps") for s in names],
        "doc_id string, text string",
    )
    out = trigram_lm_scores(docs).collect()
    assert {r.doc_id for r in out} == holdout
    for r in out:
        assert r.n_trigrams == 3 and r.avg_nll_micro is not None


def test_bigram_lm_scores_hand_computed(spark):
    """Tiny corpus, hand-verifiable: add-half smoothing over V=3
    vocab; terms follow round(ln((2c+1)/(2u+V)), 6) exactly."""
    import math

    from ai_fabric_etl_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_nll_micro)
           for r in bigram_lm_scores(docs).collect()}

    def term(c, u, v=4):  # vocab: a, b, c, z
        return round(math.log((2 * c + 1) / (2 * u + v)), 6)

    def micro(terms):
        s = round(-sum(terms) * 1_000_000)  # exact: terms have 6 dp
        n = len(terms)
        return (2 * s + n) // (2 * n)       # half-up integer mean

    # uni: a=3 b=3 c=1 z=1; big: (a,b)=3 (b,a)=1 (b,c)=1
    t_ab, t_ba, t_bc = term(3, 3), term(1, 3), term(1, 3)
    d1 = micro([t_ab, t_ba, t_ab])
    d2 = micro([t_ab, t_bc])
    assert got[1] == (3, d1)
    assert got[2] == (2, d2)
    assert got[3] == (0, None)  # single token: no bigrams
    # the improbable-transition doc scores strictly higher
    assert got[2][1] > got[1][1]
