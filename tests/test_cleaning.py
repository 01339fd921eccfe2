"""Tests for ml/cleaning.py beyond the oracle-parity layer: a
brute-force property check of the exact-substring span detector on
arbitrary random corpora (the oracle fixture can only pin one corpus),
plus determinism/invariant checks for the K-fold split and winsorize
bounds that the value-hash compare can't express."""

from __future__ import annotations

from collections import Counter

import duckdb

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from embarrassingly_parallel_image_classification_spark.ml import cleaning

SF = "/root/testdata/sf0.001"

# Tiny vocabulary → heavy gram collisions, the regime where an
# off-by-one in gram width, position base, or island merging shows up.
_WORDS = ["a", "b", "c", "d"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=14).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=8)


def _ref_spans(texts: list[str], k: int) -> list[tuple]:
    """Brute-force single-node reference: count every k-gram, mark
    duplicated start positions, merge consecutive runs."""
    docs = {i: t.split(" ") for i, t in enumerate(texts)}
    grams: Counter = Counter()
    for w in docs.values():
        for p in range(len(w) - k + 1):
            grams[tuple(w[p : p + k])] += 1
    spans = []
    for i, w in docs.items():
        run: list[int] = []
        for p in range(len(w) - k + 1):
            if grams[tuple(w[p : p + k])] < 2:
                continue
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    spans.append(
                        (i, run[0], run[-1] + k - 1, run[-1] - run[0] + k)
                    )
                run = [p]
        if run:
            spans.append((i, run[0], run[-1] + k - 1, run[-1] - run[0] + k))
    return sorted(spans)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_corpus, st.integers(2, 4))
def test_substring_spans_match_bruteforce_on_random_corpora(spark, texts, k):
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = sorted(
        tuple(r) for r in cleaning.substring_spans(d, k=k).collect()
    )
    assert got == _ref_spans(texts, k)


def test_substring_spans_merge_overlapping_duplicates(spark):
    """Two docs sharing a 7-token run with k=5 must yield ONE maximal
    span of 7 tokens each (positions 0..2 merged), not three 5-token
    spans — the island merge is the point of the operator."""
    shared = "v w x y z p q"
    d = spark.createDataFrame(
        [(0, shared + " tailzero"), (1, "headone " + shared)],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in cleaning.substring_spans(d, k=5).collect()
    }
    assert got == {(0, 0, 6, 7), (1, 1, 7, 7)}


def test_kfold_assignment_is_deterministic_and_in_range(spark):
    q = cleaning.q_split_kfold
    a = {(r.fold, r.lang): (r.n_docs, r.chars) for r in q(spark, SF).collect()}
    b = {(r.fold, r.lang): (r.n_docs, r.chars) for r in q(spark, SF).collect()}
    assert a == b  # same parquet → identical assignment, run to run
    assert all(0 <= f <= 4 for f, _ in a)


def test_winsorize_bounds_bracket_the_distribution(spark):
    rows = cleaning.q_clean_winsorize(spark, SF).collect()
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            F.col("l_returnflag").alias("grp"),
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("grp")
        .agg(
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
            F.sum("cents").alias("raw_sum"),
            F.count("*").alias("n"),
        )
    )
    stats = {r.grp: r for r in li.collect()}
    for r in rows:
        s = stats[r.grp]
        assert s.mn <= r.lo <= r.hi <= s.mx
        # clipping can only pull the sum toward the bounds' envelope
        assert r.n_lo + r.n_hi <= s.n
        # ~5% tails by construction (ceil ranks): each side ≤ 5% + 1
        assert r.n_lo <= s.n // 20 + 1 and r.n_hi <= s.n // 20 + 1


def test_winnowing_matches_brute_force_and_guarantee(spark):
    """Pure-Python winnowing (hashlib md5, rightmost-min windows, DF
    filter, pair counts) recomputed over the planted corpus — plus the
    SWA density guarantee: every w-gram window of every doc contains
    at least one selected fingerprint position."""
    import hashlib

    import duckdb

    from embarrassingly_parallel_image_classification_spark import registry
    from embarrassingly_parallel_image_classification_spark.ml.dedup import (
        WINNOW_K,
        WINNOW_MAXDF,
        WINNOW_W,
        _WINNOW_OFFSET,
    )
    from tests.conftest import SF_SMOKE

    got = registry.queries()["q_text_winnowing"](spark, SF_SMOKE).toPandas()
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    corpus = [(d, t) for d, t in docs] + [
        (d + _WINNOW_OFFSET, t) for d, t in docs
    ]

    def h40(gram: str) -> int:
        return int(hashlib.md5(gram.encode()).hexdigest()[:10], 16)

    fps = {}
    for doc_id, text in corpus:
        if len(text) < WINNOW_K + WINNOW_W - 1:
            continue
        hs = [
            h40(text[p : p + WINNOW_K])
            for p in range(len(text) - WINNOW_K + 1)
        ]
        sel = set()
        sel_pos = set()
        for i in range(len(hs) - WINNOW_W + 1):
            win = hs[i : i + WINNOW_W]
            m = min(win)
            p = max(j for j in range(WINNOW_W) if win[j] == m)
            sel.add(m)
            sel_pos.add(i + p)
        # density guarantee: the window we just scanned contributed a
        # position inside itself, so every window intersects sel_pos
        for i in range(len(hs) - WINNOW_W + 1):
            assert any(i <= p <= i + WINNOW_W - 1 for p in sel_pos)
        fps[doc_id] = sel
    df = {}
    for sel in fps.values():
        for h in sel:
            df[h] = df.get(h, 0) + 1
    kept = {d: {h for h in sel if df[h] <= WINNOW_MAXDF} for d, sel in fps.items()}
    pairs = {}
    ids = sorted(kept)
    from collections import defaultdict

    inv = defaultdict(list)
    for d in ids:
        for h in kept[d]:
            inv[h].append(d)
    for h, ds in inv.items():
        for ai in range(len(ds)):
            for bi in range(ai + 1, len(ds)):
                pairs[(ds[ai], ds[bi])] = pairs.get((ds[ai], ds[bi]), 0) + 1
    want = sorted(
        (
            (-n, a, b, n, len(kept[a]), len(kept[b]),
             n * 1_000_000 // min(len(kept[a]), len(kept[b])))
            for (a, b), n in pairs.items()
        )
    )[:10]
    assert len(got) == min(10, len(want))
    for row, w in zip(got.itertuples(index=False), want):
        assert (row.doc_a, row.doc_b, row.n_shared, row.n_fp_a,
                row.n_fp_b, row.containment_e6) == w[1:]


def test_kwic_matches_brute_force(spark):
    """Context windows replayed in pure Python over the raw document
    text (1-based positions, head/tail clamping, empty edges)."""
    from embarrassingly_parallel_image_classification_spark import registry
    from embarrassingly_parallel_image_classification_spark.ml.text import (
        _KWIC_CTX,
        _KWIC_TERM,
    )
    from tests.conftest import SF_SMOKE

    got = (
        registry.queries()["q_text_kwic"](spark, SF_SMOKE)
        .orderBy("doc_id", "pos")
        .toPandas()
    )
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM"
        f" read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    want = []
    for doc_id, text in docs:
        toks = text.split(" ")
        for i, tok in enumerate(toks, start=1):
            if tok == _KWIC_TERM:
                left = " ".join(toks[max(0, i - 1 - _KWIC_CTX):i - 1])
                right = " ".join(toks[i:i + _KWIC_CTX])
                want.append((doc_id, i, left, tok, right))
    want.sort()
    gotl = [
        (int(r.doc_id), int(r.pos), r.left_ctx, r.keyword, r.right_ctx)
        for r in got.itertuples()
    ]
    assert gotl == want
    assert any(l == "" or r == "" for _, _, l, _, r in want)  # edges hit
