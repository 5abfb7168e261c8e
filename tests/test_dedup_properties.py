"""Hypothesis property tests for the keep-latest dedup operator — the
engine's hardest correctness item (SURVEY section 7 'hard parts')."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.operators.dedup import keep_latest

_raw_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=5),   # version
        st.integers(min_value=0, max_value=10**4),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
    ),
    min_size=1, max_size=40,
)

#: force globally-unique ids so the (version, id) order is total — ties on
#: the full ordering tuple would be legitimately nondeterministic
rows = _raw_rows.map(lambda xs: [(k, v, i * 100 + n, val)
                                 for n, (k, v, i, val) in enumerate(xs)])


@settings(max_examples=12, deadline=None)
@given(rows)
def test_keep_latest_matches_pandas(data):
    # pytest fixtures don't mix with @given; grab the active session
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

    df = spark.createDataFrame(data, "key int, version int, id long, value double")
    got = sorted(map(tuple, keep_latest(
        df, ["key"], [F.col("version").desc(), F.col("id").desc()]).collect()))

    pdf = pd.DataFrame(data, columns=["key", "version", "id", "value"])
    idx = (pdf.sort_values(["version", "id"], ascending=False)
           .groupby("key", as_index=False).first())
    exp = sorted(map(tuple, idx[["key", "version", "id", "value"]].itertuples(index=False)))
    assert got == exp


#: event times across three months, two of them a minute apart over a
#: month boundary, so a batch touches some stored partitions and not others
_TIMES = [dt.datetime(2024, 1, 31, 23, 59), dt.datetime(2024, 2, 1, 0, 0),
          dt.datetime(2024, 2, 15, 12, 0), dt.datetime(2024, 3, 1, 6, 0)]

timed_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),          # key
              st.integers(min_value=0, max_value=len(_TIMES) - 1),  # time
              st.integers(min_value=0, max_value=5),          # version
              st.floats(allow_nan=False, allow_infinity=False, width=32)),
    min_size=1, max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(timed_rows, timed_rows)
def test_merge_equals_one_shot(existing, incoming):
    """Merging batch B into a table built from batch A with
    ``Catalog.merge_keep_latest`` (partition-bounded read → keep-latest →
    dynamic overwrite) equals deduping A ∪ B in one pass — the
    incremental path loses nothing."""
    import tempfile

    from pyspark.sql import SparkSession

    from apsviz_timeseriesdb_ingest_spark.sources.catalog import Catalog

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    schema = "key int, time timestamp_ntz, version int, id long, value double"
    keys = ["key", "time"]
    order = [F.col("version").desc(), F.col("id").desc()]
    # unique ids, disjoint in parity across batches: the order is total
    existing = [(k, _TIMES[t], v, n * 2, val)
                for n, (k, t, v, val) in enumerate(existing)]
    incoming = [(k, _TIMES[t], v, n * 2 + 1, val)
                for n, (k, t, v, val) in enumerate(incoming)]
    with tempfile.TemporaryDirectory() as wh:
        catalog = Catalog(spark, wh)
        for batch in (existing, incoming):
            catalog.merge_keep_latest(
                "facts", spark.createDataFrame(batch, schema), keys, order)
        merged = sorted(map(tuple, catalog.read("facts")
                            .select("key", "time", "version", "id", "value")
                            .collect()))
    oneshot = sorted(map(tuple, keep_latest(
        spark.createDataFrame(existing + incoming, schema), keys, order).collect()))
    assert merged == oneshot


def test_minhash_tune_properties():
    """The (bands, rows) solver: exact split of the budget, steeper
    curves for higher thresholds, 50%-collision point solves the
    S-curve, and the chosen split beats the alternatives on its own
    cost function (brute recompute)."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import minhash_tune

    prev_rows = 0
    for th in (0.2, 0.4, 0.6, 0.8):
        out = minhash_tune(th, 16)
        b, r = out["bands"], out["rows"]
        assert b * r == 16
        assert r >= prev_rows  # higher threshold -> steeper
        prev_rows = r
        # threshold_50 is the textbook (1/b)^(1/r) inflection estimate
        assert out["threshold_50"] == round((1 / b) ** (1 / r), 6)
        # ... at which the curve sits at exactly 1-(1-1/b)^b — between
        # 1-1/e (b→∞) and 0.75 (b=2); the conventional "rising part of
        # the S" landmark
        if b > 1:
            s = (1 / b) ** (1 / r)
            p = 1 - (1 - s ** r) ** b
            assert 0.6 < p <= 0.75

    # brute-force cost recompute at one setting
    def cost(bands, rows, th, w=0.5, steps=1000):
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1 - (1 - s ** rows) ** bands
            if s < th:
                fp += p / steps
            else:
                fn += (1 - p) / steps
        return w * fp + (1 - w) * fn

    chosen = minhash_tune(0.5, 16)
    best = min(((b, 16 // b) for b in (1, 2, 4, 8, 16)),
               key=lambda br: cost(*br, 0.5))
    assert (chosen["bands"], chosen["rows"]) == best

    import pytest
    with pytest.raises(ValueError):
        minhash_tune(1.5, 16)


def test_evaluate_pair_candidates(spark, sf_small):
    """Pair-candidate quality metric: hand case with order-normalized
    pairs, then the real composition — LSH candidates vs exact Jaccard
    truth on testdata (tune theory, measure reality)."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        evaluate_pair_candidates,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from apsviz_timeseriesdb_ingest_spark.testdata import load_table

    cand = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5), (5, 6)], "doc_a long, doc_b long")
    truth = spark.createDataFrame(
        [(2, 1), (5, 6), (7, 8)], "doc_a long, doc_b long")
    row = evaluate_pair_candidates(cand, truth).collect()[0]
    # (1,2) and (5,6) hit; (6,5)/(5,6) dedup to one candidate
    assert (row.n_candidates, row.n_truth, row.n_hit) == (3, 3, 2)
    assert row.precision == round(2 / 3, 6) and row.recall == round(2 / 3, 6)

    docs = load_table(spark, sf_small, "documents")
    lsh = minhash_lsh_pairs(docs)  # unverified candidates
    exact = (ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=None)
             .select("doc_a", "doc_b"))
    m = evaluate_pair_candidates(lsh, exact).collect()[0]
    # sf0.001 plants extreme near-dups (jaccard well above the 16/4
    # geometry's ~0.7 inflection): candidates recover essentially all
    # of them without false candidates (measured 28/28/28)
    assert m.n_truth > 0 and m.n_hit > 0
    assert m.precision >= 0.9
    assert m.recall >= 0.9


# --- property tests for the r3 corpus-prep operators -------------------

import string as _string

from hypothesis import given, settings
from hypothesis import strategies as st

_words = st.lists(st.text(alphabet=_string.ascii_lowercase,
                          min_size=1, max_size=5),
                  min_size=0, max_size=40)


@settings(max_examples=10, deadline=None)
@given(_words, st.integers(2, 12), st.integers(0, 6))
def test_chunk_documents_covers_every_token(words, max_tokens, overlap):
    """Every token of every doc lands in at least one chunk, chunks are
    exact slices of the token stream, and the no-redundant-tail rule
    holds (a chunk fully contained in its predecessor never appears)."""
    from pyspark.sql import SparkSession

    from apsviz_timeseriesdb_ingest_spark.llm.text import chunk_documents

    if overlap >= max_tokens:
        overlap = max_tokens - 1
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.createDataFrame([(1, " ".join(words))],
                               "doc_id long, text string")
    chunks = sorted(
        ((r.chunk_id, r.chunk_text.split(" ") if r.chunk_text else [])
         for r in chunk_documents(df, max_tokens=max_tokens,
                                  overlap=overlap).collect()))
    if not words:
        assert chunks == []
        return
    stride = max_tokens - overlap
    covered = []
    for cid, toks in chunks:
        start = cid * stride
        assert toks == words[start:start + max_tokens]  # exact slice
        covered.extend(range(start, start + len(toks)))
    assert set(covered) == set(range(len(words)))  # full coverage
    # no chunk adds nothing beyond its predecessor
    for (c1, t1), (c2, t2) in zip(chunks, chunks[1:]):
        assert c2 * stride + len(t2) > c1 * stride + len(t1)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(st.text(alphabet="ab ", min_size=1, max_size=8),
                         min_size=0, max_size=4),
                min_size=1, max_size=6))
def test_dedup_paragraphs_conserves_distinct_content(doc_paras):
    """keep_first paragraph dedup never loses CONTENT: every distinct
    normalized paragraph present in the input survives somewhere, and
    every doc comes back."""
    import re

    from pyspark.sql import SparkSession

    from apsviz_timeseriesdb_ingest_spark.llm.spans import dedup_paragraphs

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    rows = [(i, "\n\n".join(ps)) for i, ps in enumerate(doc_paras)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_paragraphs(df).collect()
    assert {r.doc_id for r in out} == set(range(len(doc_paras)))

    def norm_set(texts):
        s = set()
        for t in texts:
            for p in re.split(r"\n[ \t\r]*\n+", t):
                if p.strip():
                    s.add(re.sub(r"\s+", " ", p.strip().lower()))
        return s

    assert norm_set(r.deduped_text for r in out) == \
        norm_set(t for _, t in rows)


@settings(max_examples=10, deadline=None)
@given(st.integers(1, 50), st.floats(0.0, 4.0))
def test_repeat_for_epochs_copy_counts(n_docs, e):
    """Every doc gets floor(e) or ceil(e) copies (exactly floor when e
    is integral), epochs are 0..k-1, and the draw is deterministic."""
    import math

    from pyspark.sql import SparkSession

    from apsviz_timeseriesdb_ingest_spark.llm.text import repeat_for_epochs

    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    df = spark.createDataFrame([(i, "s", "t") for i in range(n_docs)],
                               "doc_id long, source string, text string")
    out = repeat_for_epochs(df, {"s": e}).collect()
    per: dict = {}
    for r in out:
        per.setdefault(r.doc_id, []).append(r.epoch)
    lo, hi = math.floor(e), math.ceil(e)
    for i in range(n_docs):
        k = len(per.get(i, []))
        assert k in (lo, hi)
        if k:
            assert sorted(per[i]) == list(range(k))
    out2 = repeat_for_epochs(df, {"s": e}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_cross_corpus_neardup(spark):
    """Eval-vs-train fuzzy dedup: a near-copy of a reference doc flags
    with the exact pairwise jaccard, unrelated docs pass, and the
    jaccard matches a python recompute."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        cross_corpus_neardup,
    )

    ref_text = ("the quick brown fox jumps over the lazy dog near the "
                "old stone bridge every single morning without fail")
    reference = spark.createDataFrame(
        [(100, ref_text),
         (101, "reference corpora hold the documents we must not "
               "duplicate in any freshly prepared training batch")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, ref_text + " indeed"),            # near-copy
         (2, "completely different prose about cooking pasta with "
             "garlic butter and fresh basil leaves tonight"),
         (3, ref_text)],                        # exact copy
        "doc_id long, text string")

    out = {r.doc_id: r for r in
           cross_corpus_neardup(corpus, reference, threshold=0.5).collect()}
    assert out[3].neardup_of_reference and out[3].best_jaccard == 1.0
    assert out[1].neardup_of_reference
    assert not out[2].neardup_of_reference

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    a, b = sh(ref_text + " indeed"), sh(ref_text)
    assert out[1].best_jaccard == round(len(a & b) / len(a | b), 6)

    # empty reference: nothing flags, every corpus doc present
    empty = spark.createDataFrame([], "doc_id long, text string")
    out2 = cross_corpus_neardup(corpus, empty).collect()
    assert len(out2) == 3
    assert all(not r.neardup_of_reference and r.best_jaccard is None
               for r in out2)


def test_cross_corpus_neardup_matches_exact_truth_on_testdata(spark, sf_small):
    """Even-vs-odd split of the documents table: the flagged set equals
    exactly the even-side members of the exact-Jaccard cross-parity
    pairs (measured 11 of 28 planted pairs span the split)."""
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        cross_corpus_neardup,
        ngram_jaccard_pairs,
    )
    from apsviz_timeseriesdb_ingest_spark.testdata import load_table

    docs = load_table(spark, sf_small, "documents")
    truth = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(docs, threshold=0.5,
                                          max_doc_freq=None).collect()}
    want = {a if a % 2 == 0 else b for a, b in truth
            if a % 2 != b % 2}
    assert want  # the generator plants cross-parity near-dups

    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    got = {r.doc_id for r in
           cross_corpus_neardup(even, odd, threshold=0.5).collect()
           if r.neardup_of_reference}
    assert got == want


def test_shingles_survive_sub_k_token_docs(spark):
    """Docs with fewer than k tokens must not abort the job (Spark 4
    ANSI element_at throws on the out-of-bounds index they produce —
    the r4 WET-composition test caught this latent in every
    shingle-based operator). Semantics: the truncated final shingle,
    exactly the oracle's slice behavior; zero-token docs emit nothing."""
    from pyspark.sql import functions as F

    from apsviz_timeseriesdb_ingest_spark.llm.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        shingles_from_tokens,
    )
    from apsviz_timeseriesdb_ingest_spark.llm.spans import duplicate_spans
    from apsviz_timeseriesdb_ingest_spark.llm.text import decontaminate

    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, ""),
         (4, "three tokens here"), (5, "two words")],
        "doc_id long, text string")
    sh = {r.doc_id: r.sh for r in docs.select(
        "doc_id", shingles_from_tokens(
            F.split(F.lower("text"), r"\s+"), 3).alias("sh")).collect()}
    assert sh[1] == ["one"]
    assert sh[2] == ["two words"]
    assert sh[3] == []
    assert sh[4] == ["three tokens here"]

    # every shingle consumer completes on the short-doc corpus
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {(2, 5)}
    jac = ngram_jaccard_pairs(docs, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in jac.collect()} == {(2, 5)}
    duplicate_spans(docs, k=3).collect()
    flags = {r.doc_id: r.contaminated for r in decontaminate(
        docs.filter(F.col("doc_id") != 5),
        docs.filter(F.col("doc_id") == 5)).collect()}
    assert flags[2] is True and flags[4] is False
