"""Query-side stemmer-iterator search tests (unstemmed index).

Covers the reference's stemmer-as-btree-iterator family
(stemmer.c:14-48) and the similarity-gated wrappers
(stemmer_term_similarity*.c): prefix-bounded stem classes, tf·idf
postings-cosine similarity with the reference's asymmetric
normalization and summation order, threshold gating (NaN kept),
weighted tf scaling with bucket truncation, and stem conflation
scored as one BM25 term per class.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from atire_spark import query as query_mod

# cat/cats and dog/dogs are genuine stem classes under the S-stripper
# (both prefix-bounded); "cats" co-occurs with "cat" at different
# rates per doc so the postings-cosine is nontrivial
ITER_TRANSCRIPTS = pd.DataFrame(
    {
        "conv_id": ["c0"] * 4 + ["c1"] * 4,
        "turn_idx": [0, 1, 2, 3] * 2,
        "text": [
            "cat cat cats sleeping",
            "cats cats everywhere cats",
            "one cat alone",
            "dog dogs barking loudly",
            "dog park full of dogs",
            "the cat chased the dog",
            "no animals in this turn",
            "cats and dogs raining cat",
        ],
    }
)


@pytest.fixture(scope="module")
def iter_engine(spark):
    from atire_spark.build import build_index
    from atire_spark.query import SearchEngine

    idx = build_index(spark, spark.createDataFrame(ITER_TRANSCRIPTS))
    return SearchEngine(spark, idx)


def test_stem_class_candidates(spark, iter_engine):
    """Classes are prefix-bounded stem-equality sets in btree order
    (stemmer.c:14-48): 'queries' stems to 'query' but doesn't carry it
    as a prefix, so a 'query' class would miss it — here cat/cats and
    dog/dogs are honest classes."""
    classes = iter_engine.stem_class_candidates(["cat", "dogs", "xyz"], "s")
    assert classes["cat"] == ["cat", "cats"]
    assert classes["dogs"] == ["dog", "dogs"]
    assert classes["xyz"] == []


def test_porter_class_prefix_is_two_chars(spark):
    """ATIRE's porter stem() RETURNS 2 (stem_porter.c:293-297), so the
    btree walk scans everything sharing the first TWO characters and
    keeps same-stem terms: 'pony' (stem 'poni') IS in the 'ponies'
    class even though it doesn't start with 'poni'. A same-stem term
    outside the 2-char prefix would still be missed."""
    from atire_spark.build import build_index
    from atire_spark.query import SearchEngine

    t = pd.DataFrame(
        {
            "conv_id": ["c0"] * 2,
            "turn_idx": [0, 1],
            "text": ["ponies graze", "pony grazes"],
        }
    )
    idx = build_index(spark, spark.createDataFrame(t))
    eng = SearchEngine(spark, idx)
    classes = eng.stem_class_candidates(["ponies"], "porter")
    assert classes["ponies"] == ["ponies", "pony"]


@pytest.mark.parametrize(
    "similarity,value",
    [
        (None, 0.0),
        ("threshold", 0.1),
        ("threshold", 0.9),
        ("weighted", 1.0),
        ("weighted", 2.0),
    ],
)
def test_iterator_search_matches_oracle(spark, iter_engine, similarity, value):
    from atire_spark.oracle import OracleIndex

    oi = OracleIndex.build(ITER_TRANSCRIPTS)
    for q in ["cat", "dogs cat", "cats barking", "the cat"]:
        got = iter_engine.search_stemmed_iterator(
            [(1, q)], stemmer="s", k=10, similarity=similarity, value=value
        ).toPandas()
        want = oi.search_stemmed_iterator(
            q, stemmer="s", k=10, similarity=similarity, value=value
        )
        assert list(got["docid"]) == list(want["docid"]), (similarity, value, q)
        assert list(got["rsv_fixed"]) == list(want["rsv_fixed"]), (
            similarity,
            value,
            q,
        )


def test_threshold_base_term_always_kept(spark, iter_engine):
    """The strcmp short-circuit (stemmer_term_similarity_threshold.c):
    the raw query term passes without a similarity check even at an
    impossible threshold."""
    got = iter_engine.search_stemmed_iterator(
        [(1, "cat")], stemmer="s", k=10, similarity="threshold", value=99.0
    ).toPandas()
    plain = iter_engine.search_one("cat", k=10).toPandas()
    assert list(got["docid"]) == list(plain["docid"])
    assert list(got["rsv_fixed"]) == list(plain["rsv_fixed"])


def test_absent_base_kills_gated_class(spark, iter_engine):
    """A base term missing from the vocabulary has a zero buffer →
    similarity 0.0 for every candidate
    (stemmer_term_similarity.c:103-104): threshold drops the whole
    class, weighted zeroes it."""
    # 'cats cats ...' docs exist but base 'catss' is absent; its stem
    # class under 's' is {cat, cats} via stem 'cats'→'cat'? no:
    # stem_s('catss') = 'cats' → class {cats}
    got = iter_engine.search_stemmed_iterator(
        [(1, "catss")], stemmer="s", k=10, similarity="threshold", value=0.01
    ).toPandas()
    assert len(got) == 0
    got_w = iter_engine.search_stemmed_iterator(
        [(1, "catss")], stemmer="s", k=10, similarity="weighted", value=1.0
    ).toPandas()
    assert len(got_w) == 0


def test_weighted_truncation_binds(spark, iter_engine):
    """pow(sim, value) < 1 scales tfs down; docs whose weighted sum
    truncates to a LOWER bucket score differently from the unweighted
    conflation — and sub-1 sums score at impact 0 (+1 accumulator)."""
    from atire_spark.oracle import OracleIndex

    oi = OracleIndex.build(ITER_TRANSCRIPTS)
    plain = oi.search_stemmed_iterator("cat", stemmer="s", k=10)
    weighted = oi.search_stemmed_iterator(
        "cat", stemmer="s", k=10, similarity="weighted", value=3.0
    )
    assert list(plain["rsv_fixed"]) != list(weighted["rsv_fixed"])


def test_iterator_rejects_mismatched_stemmer_and_quantized(spark):
    """A stemmed index auto-runs the iterator with ITS stemmer
    (search_engine.c:286-290); a different stemmer over a stemmed
    vocabulary silently misses everything and is refused."""
    from atire_spark.build import build_index
    from atire_spark.query import SearchEngine

    tdf = spark.createDataFrame(ITER_TRANSCRIPTS)
    eng_s = SearchEngine(spark, build_index(spark, tdf, stemmer="s"))
    with pytest.raises(ValueError, match="same"):
        eng_s.search_stemmed_iterator([(1, "cat")], stemmer="porter")
    # matching stemmer is allowed — it IS the stemmed search path
    assert eng_s.search_stemmed_iterator(
        [(1, "cat")], stemmer="s"
    ).count() >= 0
    eng_q = SearchEngine(spark, build_index(spark, tdf, quantize_bits=8))
    with pytest.raises(ValueError, match="quantized"):
        eng_q.search_stemmed_iterator([(1, "cat")], stemmer="s")


def test_term_similarity_reference_quirks():
    """The asymmetric normalization: dot uses tf/doc_len, norms use
    raw tf² — a candidate identical to the base does NOT similarity 1
    unless all its docs share one length."""
    from atire_spark.kernels.termsim import term_similarity

    d = np.array([0, 1], dtype=np.int64)
    t = np.array([2, 3], dtype=np.int64)
    lens = {0: 10, 1: 20}
    s_self = term_similarity(d, t, d, t, lens, n_docs=5, df_a=2, df_b=2)
    # dot = (2/10)(2/10) + (3/20)(3/20) = 0.04 + 0.0225 = 0.0625
    # norms = sqrt(13)*sqrt(13) = 13 (idfs cancel)
    assert abs(s_self - 0.0625 / 13.0) < 1e-15
    # absent base → 0.0
    z = np.zeros(0, dtype=np.int64)
    assert term_similarity(z, z, d, t, lens, 5, 1, 2) == 0.0
    # df == n_docs on the base side → idf_a 0 → NaN (0/0), kept by
    # the threshold gate because NaN < t is false
    s_nan = term_similarity(d, t, d, t, lens, n_docs=2, df_a=2, df_b=2)
    assert np.isnan(s_nan)
    assert not (s_nan < 0.5)


class TestDistributedPath:
    """The web-scale member path (CLASS_COLLECT_MAX exceeded): members
    stay a DataFrame and reach the postings through joins. The two
    paths must return identical rankings, and the distributed plan
    must contain no In-literal over the vocabulary."""

    @pytest.mark.parametrize(
        "similarity,value",
        [(None, 0.0), ("threshold", 0.1), ("weighted", 2.0)],
    )
    def test_distributed_equals_collected(
        self, spark, iter_engine, similarity, value, monkeypatch
    ):
        qs = [(1, "cat dog"), (2, "cats barking one"), (3, "zz")]
        small = iter_engine.search_stemmed_iterator(
            qs, stemmer="s", k=10, similarity=similarity, value=value
        ).toPandas()
        # force the distributed member path
        monkeypatch.setattr(query_mod, "CLASS_COLLECT_MAX", 0)
        big = iter_engine.search_stemmed_iterator(
            qs, stemmer="s", k=10, similarity=similarity, value=value
        ).toPandas()
        pd.testing.assert_frame_equal(
            small.reset_index(drop=True), big.reset_index(drop=True)
        )

    def test_distributed_plan_has_no_vocab_literal(
        self, spark, iter_engine, monkeypatch
    ):
        """The forced-distributed plan filters postings via joins, not
        via an In(term, [...]) literal of collected class members."""
        monkeypatch.setattr(query_mod, "CLASS_COLLECT_MAX", 0)
        df = iter_engine.search_stemmed_iterator(
            [(1, "cat dog")], stemmer="s", k=5
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "cats" not in plan  # no collected member inlined
        assert "Join" in plan

    def test_class_candidates_df_matches_dict(self, spark, iter_engine):
        rows = (
            iter_engine._stem_class_candidates_df(["cat", "dogs"], "s")
            .toPandas()
            .sort_values(["base", "term"])
        )
        got = {
            b: list(sub["term"]) for b, sub in rows.groupby("base")
        }
        assert got == {
            "cat": ["cat", "cats"],
            "dogs": ["dog", "dogs"],
        }
