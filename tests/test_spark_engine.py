"""End-to-end Spark engine tests: golden rank-identity vs the numpy
oracle, docid/doc-length invariants, segment splitting."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from atire_spark import query as query_mod
from atire_spark.build import build_index
from atire_spark.oracle import OracleIndex
from atire_spark.query import SearchEngine
from atire_spark.synth import make_queries, make_transcripts


@pytest.fixture(scope="module")
def small_pdf():
    return make_transcripts("small")


@pytest.fixture(scope="module")
def small_engine(spark, small_pdf, tmp_path_factory):
    from atire_spark.build import load_index, write_index

    tdf = spark.createDataFrame(small_pdf)
    # small blocks/segments on purpose: exercises the salted block merge
    # AND stop-term splitting into multiple segment rows
    idx = build_index(spark, tdf, block_bits=10, blocks_per_seg=4)
    # materialize once: every test then scans parquet instead of
    # re-running the whole build lineage per action
    path = str(tmp_path_factory.mktemp("idx") / "small")
    write_index(idx, path)
    return SearchEngine(spark, load_index(spark, path))


@pytest.fixture(scope="module")
def small_oracle(small_pdf):
    return OracleIndex.build(small_pdf)


@pytest.fixture(params=["resident", "distributed"])
def placement(request, monkeypatch):
    """Run a test on each placement of search_batch's grouped scorer:
    by default these corpora are resident on the driver and every
    batch is scored there; a resident cap of 0 sends every batch down
    the distributed path."""
    if request.param == "distributed":
        monkeypatch.setattr(query_mod, "RESIDENT_MAX_POSTINGS", 0)
    return request.param


# the rankers scored by query._grouped_topk (lmp and lmptfidf cogroup
# with the Puurula length vectors instead)
_GROUPED_RANKERS = query_mod.KNOWN_RANKERS - {"lmp", "lmptfidf"}

# queries that share terms, one repeating a term
_SHARED_TERMS_BATCH = [(1, "alpha alpha bravo"), (2, "alpha 00001"), (3, "bravo alpha")]


@pytest.fixture(scope="module")
def grouped_reference(small_engine):
    """(ranker, conjunctive) → the resident placement's rows for
    _SHARED_TERMS_BATCH at k=12, for every grouped ranker plus
    conjunctive bm25."""
    keys = [(r, False) for r in sorted(_GROUPED_RANKERS)] + [("bm25", True)]
    ref = {}
    for ranker, conjunctive in keys:
        df = small_engine.search_batch(
            _SHARED_TERMS_BATCH, k=12, ranker=ranker, conjunctive=conjunctive
        )
        assert _placement_of(df) == "resident"
        ref[(ranker, conjunctive)] = pd.DataFrame.from_records(
            df.collect(), columns=df.columns
        )
    return ref


def _placement_of(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "MapInPandas" in plan:
        return "distributed"
    assert "LocalTableScan" in plan, plan
    return "resident"


def _assert_ranked(got: pd.DataFrame, qid: int, want: pd.DataFrame, q: str):
    g = got[got["query_id"] == qid]
    assert list(g["docid"]) == list(want["docid"]), q
    assert list(g["rsv_fixed"]) == list(want["rsv_fixed"]), q
    assert list(g["rank"]) == list(range(1, len(g) + 1)), q


def _terms(q: str) -> list[str]:
    return [t.term for t in query_mod.parse_nexi(q)]


def _top(acc: dict[int, int], k: int) -> pd.DataFrame:
    """Accumulator {docid: int total} → the reference's top-k
    (signed 16-bit value, rsv desc, larger docid first)."""
    from atire_spark.kernels.bm25 import accum_value

    docids = np.fromiter(acc, dtype=np.int64, count=len(acc))
    vals = accum_value(np.fromiter(acc.values(), dtype=np.int64, count=len(acc)))
    order = np.lexsort((-docids, -vals))[:k]
    return pd.DataFrame({"docid": docids[order], "rsv_fixed": vals[order]})


def _conjunctive(oracle: OracleIndex, q: str, k: int) -> pd.DataFrame:
    """allterms: the BM25 ranking restricted to documents holding every
    distinct query term (none of these terms has df == N)."""
    terms = set(_terms(q))
    every = set.intersection(*(set(oracle.postings[t][0].tolist()) for t in terms))
    assert all(oracle.postings[t][0].size < oracle.n_docs for t in terms)
    full = oracle.search(q, k=oracle.n_docs)
    return full[full["docid"].isin(every)].head(k)


def _lmds(oracle: OracleIndex, q: str, k: int) -> pd.DataFrame:
    """LMDS u=2500 (ranking_function_lmds.c) replayed occurrence by
    occurrence: terms in ascending cf (then term) order, each
    occurrence adds 1 + trunc(100·rsv), plus the document prior
    n·ln(u/(len+u)) whenever it finds the 16-bit accumulator at zero;
    a document enters the candidates on its first nonzero addition.
    cf is the tf sum, exact for terms whose tf never saturates."""
    from collections import Counter

    u = 2500.0
    bag = Counter(_terms(q))
    n = float(sum(bag.values()))
    present = {t: w for t, w in bag.items() if t in oracle.postings}
    cf = {t: int(oracle.postings[t][1].sum()) for t in present}
    acc: dict[int, int] = {}
    cand: set[int] = set()
    for t in sorted(present, key=lambda t: (cf[t], t)):
        docids, tfs = oracle.postings[t]
        assert tfs.max() < 255
        rsv = np.log((tfs / u) * (oracle.collection_len / cf[t]) + 1.0)
        prior = np.log(u / (oracle.doc_lens[docids] + u))
        unit = 1 + (rsv * 100.0).astype(np.int64)
        unit_p = 1 + ((rsv + n * prior) * 100.0).astype(np.int64)
        for _ in range(present[t]):
            for d, a, b in zip(docids.tolist(), unit.tolist(), unit_p.tolist()):
                cur = acc.get(d, 0)
                add = b if cur % 65536 == 0 else a
                if add % 65536:
                    cand.add(d)
                acc[d] = cur + add
    return _top({d: acc[d] for d in cand}, k)


def _docid_desc(oracle: OracleIndex, q: str, k: int) -> pd.DataFrame:
    """docid_desc (ranking_function_docid.c): every document holding a
    query term gets the positional value docid + 1."""
    docs = {
        d
        for t in set(_terms(q))
        if t in oracle.postings
        for d in oracle.postings[t][0].tolist()
    }
    return _top({d: d + 1 for d in docs}, k)


class TestInvariants:
    def test_stats_match_oracle(self, small_engine, small_oracle):
        assert small_engine.n_docs == small_oracle.n_docs
        assert small_engine.mean_doc_len == pytest.approx(
            small_oracle.mean_doc_len, rel=0, abs=0
        )

    def test_docmap_matches_oracle(self, small_engine, small_oracle):
        got = (
            small_engine.index.docmap.orderBy("docid")
            .toPandas()
            .reset_index(drop=True)
        )
        want = small_oracle.docmap.reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype({"turn_idx": np.int64, "doc_len": np.int64}),
            want.astype({"turn_idx": np.int64, "doc_len": np.int64}),
        )

    def test_per_turn_text_equality_under_stable_ordering(
        self, spark, small_engine, small_pdf
    ):
        """north_star invariant: docmap joined back to transcripts maps
        each docid to exactly one turn, in stable (conv_id, turn_idx)
        order, and every non-empty turn is present."""
        tdf = spark.createDataFrame(small_pdf)
        joined = small_engine.index.docmap.join(tdf, ["conv_id", "turn_idx"])
        assert joined.count() == small_engine.index.docmap.count()
        # docid order == (conv_id, turn_idx) order
        rows = (
            joined.select("docid", "conv_id", "turn_idx")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        assert list(rows["docid"]) == sorted(rows["docid"])

    def test_empty_turns_skipped(self, small_engine, small_pdf):
        n_turns = len(small_pdf)
        n_docs = small_engine.n_docs
        assert n_docs < n_turns  # some empties existed and were skipped

    def test_postings_df_consistency(self, small_engine):
        p = small_engine.index.postings
        # per-row: n_postings == sum(doc_counts) == seg_df
        bad = p.filter(
            (F.col("n_postings") != F.aggregate("doc_counts", F.lit(0), lambda a, x: a + x))
            | (F.col("seg_df") != F.col("n_postings"))
        ).count()
        assert bad == 0
        # global df == sum of segment dfs
        agg = p.groupBy("term", "df").agg(F.sum("seg_df").alias("s"))
        assert agg.filter(F.col("df") != F.col("s")).count() == 0

    def test_stop_term_split_into_segments(self, small_engine):
        segs = (
            small_engine.index.postings.filter(F.col("term") == "omegaterm")
            .select("seg_group")
            .distinct()
            .count()
        )
        assert segs > 1  # the adversarial term spans multiple segment groups

    def test_tf_cap(self, small_engine):
        assert (
            small_engine.index.postings.filter(F.col("max_impact") > 255).count() == 0
        )

    def test_cf_uncapped_while_tf_saturates(self, small_engine):
        # the synth fixture plants 300x "capterm" in one turn: stored tf
        # saturates at 255 but collection frequency keeps counting
        row = (
            small_engine.index.postings.filter(F.col("term") == "capterm")
            .groupBy("term", "cf")
            .agg(F.max("max_impact").alias("mi"))
            .collect()[0]
        )
        assert row["mi"] == 255
        assert row["cf"] >= 300


class TestRankIdentity:
    """Golden test: Spark engine vs independent numpy oracle on the full
    30-query fixture, k=10 and k=100 — docids AND rsv_fixed identical."""

    @pytest.mark.parametrize("k", [10, 100])
    def test_all_queries(self, small_engine, small_oracle, k):
        queries = make_queries()
        batch = list(zip(queries["query_id"], queries["query"]))
        got = small_engine.search_batch(batch, k=k).toPandas()
        for qid, qtext in batch:
            g = got[got["query_id"] == qid]
            w = small_oracle.search(qtext, k=k)
            assert list(g["docid"]) == list(w["docid"]), f"docids differ, query={qtext!r}"
            assert list(g["rsv_fixed"]) == list(
                w["rsv_fixed"]
            ), f"scores differ, query={qtext!r}"

    def test_segmentation_is_score_neutral(self, spark, small_pdf, small_oracle):
        """Different block/segment parameters must not change results."""
        tdf = spark.createDataFrame(small_pdf)
        idx = build_index(spark, tdf, block_bits=20, blocks_per_seg=4096)
        eng = SearchEngine(spark, idx)
        got = eng.search_batch([(1, "alpha bravo 00001")], k=20).toPandas()
        want = small_oracle.search("alpha bravo 00001", k=20)
        assert list(got["docid"]) == list(want["docid"])
        assert list(got["rsv_fixed"]) == list(want["rsv_fixed"])

    def test_placements_match_oracle(
        self, small_engine, small_oracle, placement
    ):
        """The resident (driver-scored) and the distributed
        (seg_group-partitioned) placements of the grouped scorer both
        agree with the oracle."""
        batch = [(1, "alpha 00001"), (2, "omegaterm"), (3, "capterm 00001")]
        df = small_engine.search_batch(batch, k=15)
        assert _placement_of(df) == placement
        a = df.toPandas()
        for qid, qtext in batch:
            w = small_oracle.search(qtext, k=15)
            g = a[a["query_id"] == qid]
            assert list(g["docid"]) == list(w["docid"])
            assert list(g["rsv_fixed"]) == list(w["rsv_fixed"])

    def test_placements_rank_identical_across_query_shapes(
        self, small_engine, small_oracle, placement, jobs_of
    ):
        """Multi-term, repeated-term and absent-term queries in one
        batch, plus conjunctive, lmds and docid_desc batches, rank
        identically to expectations built from the oracle's postings,
        in both placements; a warm resident engine answers without a
        Spark job."""
        k = 12
        batch = [
            (1, "alpha bravo 00001"),
            (2, "alpha alpha bravo"),
            (3, "zzznotaterm alpha"),
            (4, "zzznotaterm"),
            (5, "term 00002"),  # "term" has df == N: contributes nothing
        ]
        small_engine.search_batch(batch, k=k)  # warm: loads a resident table
        df, n_jobs = jobs_of(lambda: small_engine.search_batch(batch, k=k))
        assert _placement_of(df) == placement
        if placement == "resident":
            assert n_jobs == 0
        got = df.toPandas()
        for qid, qtext in batch:
            _assert_ranked(got, qid, small_oracle.search(qtext, k=k), qtext)

        conj = [(1, "alpha bravo"), (2, "alpha charlie delta")]
        got = small_engine.search_batch(conj, k=k, conjunctive=True).toPandas()
        for qid, qtext in conj:
            _assert_ranked(got, qid, _conjunctive(small_oracle, qtext, k), qtext)

        lm = [(1, "alpha bravo"), (2, "alpha alpha 00002"), (3, "omegaterm")]
        got = small_engine.search_batch(lm, k=k, ranker="lmds").toPandas()
        for qid, qtext in lm:
            _assert_ranked(got, qid, _lmds(small_oracle, qtext, k), qtext)

        dd = [(1, "alpha bravo"), (2, "capterm omegaterm")]
        got = small_engine.search_batch(dd, k=k, ranker="docid_desc").toPandas()
        for qid, qtext in dd:
            _assert_ranked(got, qid, _docid_desc(small_oracle, qtext, k), qtext)

    def test_grouped_rankers_rank_identically_in_both_placements(
        self, small_engine, small_oracle, placement, grouped_reference
    ):
        """Every ranker of the grouped scorer, conjunctive included,
        gives the same rows in both placements on a batch whose queries
        share terms and repeat one, so the per-query accumulation is
        keyed by (query_id, docid); bm25, lmds, docid_desc and
        conjunctive also match the oracle."""
        batch, k = _SHARED_TERMS_BATCH, 12
        for (ranker, conjunctive), want in grouped_reference.items():
            df = small_engine.search_batch(
                batch, k=k, ranker=ranker, conjunctive=conjunctive
            )
            assert _placement_of(df) == placement
            got = pd.DataFrame.from_records(df.collect(), columns=df.columns)
            pd.testing.assert_frame_equal(got, want, obj=f"{ranker} {conjunctive}")
        oracle = {
            ("bm25", False): lambda q: small_oracle.search(q, k=k),
            ("lmds", False): lambda q: _lmds(small_oracle, q, k),
            ("docid_desc", False): lambda q: _docid_desc(small_oracle, q, k),
            ("bm25", True): lambda q: _conjunctive(small_oracle, q, k),
        }
        for key, expect in oracle.items():
            for qid, qtext in batch:
                _assert_ranked(grouped_reference[key], qid, expect(qtext), qtext)

    def test_warm_resident_search_plans_no_postings_scan(
        self, small_engine, small_oracle, monkeypatch
    ):
        """A warm resident engine scores an untrimmed batch without
        building the postings scan: with a postings DataFrame whose
        ``filter`` raises, every grouped ranker that needs no
        per-term pre-pass (bm25t and bm25adpt solve k1 from a Spark
        job) still answers, and the rankers with an oracle expectation
        match it."""
        batch, k = _SHARED_TERMS_BATCH, 12
        small_engine.search_ranked(batch, k=k)  # warm: loads a resident table

        class NoScan:
            def filter(self, *args, **kwargs):
                raise AssertionError("planned a postings scan")

        monkeypatch.setattr(small_engine, "postings", NoScan())
        for ranker in sorted(_GROUPED_RANKERS - {"bm25t", "bm25adpt"}):
            small_engine.search_ranked(batch, k=k, ranker=ranker)
        for ranker, expect in [
            ("bm25", lambda q: small_oracle.search(q, k=k)),
            ("lmds", lambda q: _lmds(small_oracle, q, k)),
            ("docid_desc", lambda q: _docid_desc(small_oracle, q, k)),
        ]:
            got = small_engine.search_ranked(batch, k=k, ranker=ranker)
            for qid, qtext in batch:
                _assert_ranked(got, qid, expect(qtext), qtext)
        df = small_engine.search_batch(batch, k=k, conjunctive=True)
        got = pd.DataFrame.from_records(df.collect(), columns=df.columns)
        for qid, qtext in batch:
            _assert_ranked(got, qid, _conjunctive(small_oracle, qtext, k), qtext)

    def test_resident_index_scores_any_batch_on_the_driver(
        self, small_engine, small_oracle, jobs_of
    ):
        """The placement follows the index, not the batch: a resident
        engine scores a batch whose distinct terms × N exceed 2^20 on
        the driver, without a Spark job, ranked like the oracle."""
        pads = [f"zz{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(120)]
        assert not set(pads) & set(small_oracle.postings)
        batch = [
            (1, "alpha bravo 00001"),
            (2, "capterm omegaterm " + " ".join(pads[:20])),
            (3, " ".join(pads)),
        ]
        distinct = {t for _, q in batch for t in _terms(q)}
        assert len(distinct) * small_engine.n_docs > 1 << 20
        small_engine.search_batch(batch, k=10)  # warm: loads a resident table

        def search():
            df = small_engine.search_batch(batch, k=10)
            return df, pd.DataFrame.from_records(df.collect(), columns=df.columns)

        (df, got), n_jobs = jobs_of(search)
        assert n_jobs == 0 and _placement_of(df) == "resident"
        for qid, qtext in batch:
            _assert_ranked(got, qid, small_oracle.search(qtext, k=10), qtext)
        # the resident table holds only the columns the scorer reads
        resident = small_engine._resident()
        assert resident.postings.column_names == list(query_mod._SEG_FIELDS)

    def test_resident_index_loads_once_under_concurrent_first_queries(
        self, spark, small_engine, monkeypatch
    ):
        """Threads that issue their first search on a fresh engine at
        once load its resident index once, and each gets the result of
        a single-threaded search."""
        import sys
        import threading
        from concurrent.futures import ThreadPoolExecutor

        batch = [(1, "alpha bravo 00001"), (2, "omegaterm")]
        want = SearchEngine(spark, small_engine.index).search_ranked(batch, k=20)
        loads = []

        class Counted(query_mod._Resident):
            def __init__(self, index):
                loads.append(threading.get_ident())
                super().__init__(index)

        monkeypatch.setattr(query_mod, "_Resident", Counted)
        eng = SearchEngine(spark, small_engine.index)
        n = 6
        start = threading.Barrier(n)

        def first_search(_):
            start.wait(timeout=60)
            return eng.search_ranked(batch, k=20)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(n) as ex:
                got = list(ex.map(first_search, range(n), timeout=300))
        finally:
            sys.setswitchinterval(interval)
        assert len(loads) == 1
        for g in got:
            pd.testing.assert_frame_equal(g, want)

    def test_materialize(self, small_engine, small_pdf):
        res = small_engine.search_one("alpha", k=5)
        mat = small_engine.materialize(res).toPandas()
        assert len(mat) == 5
        # every hit maps back to a real transcript turn
        keys = set(zip(small_pdf["conv_id"], small_pdf["turn_idx"]))
        assert all((c, t) in keys for c, t in zip(mat["conv_id"], mat["turn_idx"]))


class TestBoolean:
    """Boolean retrieval (query_boolean.c grammar + bitstring set ops,
    atire_api.c:1116-1176) vs the dense-bitstring numpy oracle."""

    QUERIES = [
        (1, "alpha AND bravo"),
        (2, "alpha OR term00001"),
        (3, "alpha NOT bravo"),
        (4, "alpha XOR bravo"),
        (5, "(alpha OR bravo) AND term00002"),
        (6, "term00001 term00002"),  # adjacency → default OR
        (7, "alpha AND zzznotaterm"),
        (8, "alpha alpha"),  # repeated leaf scores twice
        (9, "NOT alpha"),  # leading operator is a plain term
        (10, "capterm AND term00001 OR omegaterm"),  # left-assoc chain
    ]

    def test_rank_identity_vs_oracle(self, small_engine, small_oracle):
        got = small_engine.search_boolean(self.QUERIES, k=10).toPandas()
        for qid, qtext in self.QUERIES:
            g = got[got["query_id"] == qid]
            w = small_oracle.search_boolean(qtext, k=10)
            assert list(g["docid"]) == list(w["docid"]), qtext
            assert list(g["rsv_fixed"]) == list(w["rsv_fixed"]), qtext

    def test_and_is_subset_of_or(self, small_engine):
        # NB: "termNNNNN" is NOT a single token (letter run + digit
        # run); use genuinely single-token terms that co-occur
        both = small_engine.search_boolean(
            [(1, "alpha AND omegaterm"), (2, "alpha OR omegaterm")], k=50000
        ).toPandas()
        a = set(both[both["query_id"] == 1]["docid"])
        o = set(both[both["query_id"] == 2]["docid"])
        assert a and a < o

    def test_parser_shapes(self):
        from atire_spark.boolean import Leaf, Node, parse_boolean

        t = parse_boolean("a AND (b OR c) NOT d")
        assert isinstance(t, Node) and t.op == "NOT"
        assert t.left.op == "AND" and t.left.right.op == "OR"
        # mixed-case operators are terms (true_strcmp pairs,
        # query_boolean.c:176-201)
        t2 = parse_boolean("a Or b")
        assert isinstance(t2, Node) and t2.op == "OR"
        assert [n.term for n in (t2.left.left, t2.left.right, t2.right)] == [
            "a",
            "or",
            "b",
        ]
        assert parse_boolean("") is None


class TestQuantized:
    """The reference's -Q mode (memory_index.c:1541-1589) + QaaT
    block-max pruning (atire_api.c:683-836)."""

    QUERIES = [
        (1, "alpha"),
        (2, "00001 00002"),
        (3, "omegaterm 00003"),
        (4, "capterm 00001 alpha"),
        (5, "alpha bravo charlie 00042"),
        (6, "zzznotaterm"),
    ]

    @pytest.fixture(scope="class")
    def quant_pdf(self):
        return make_transcripts(400)

    @pytest.fixture(scope="class")
    def quant_engine(self, spark, quant_pdf):
        tdf = spark.createDataFrame(quant_pdf)
        idx = build_index(spark, tdf, block_bits=9, blocks_per_seg=3, quantize_bits=8)
        return SearchEngine(spark, idx)

    @pytest.fixture(scope="class")
    def quant_oracle(self, quant_pdf):
        return OracleIndex.build(quant_pdf)

    def test_stats_record_quantization(self, quant_engine):
        assert quant_engine.quantized
        assert quant_engine.quant_bits == 8
        row = quant_engine.index.stats.collect()[0]
        assert row["quant_max"] > row["quant_min"]

    def test_rank_identity_vs_quantized_oracle(self, quant_engine, quant_oracle):
        got = quant_engine.search_batch(self.QUERIES, k=10).toPandas()
        for qid, qtext in self.QUERIES:
            g = got[got["query_id"] == qid]
            w = quant_oracle.search_quantized(qtext, k=10)
            assert list(g["docid"]) == list(w["docid"]), qtext
            assert list(g["rsv_fixed"]) == list(w["rsv_fixed"]), qtext

    def test_impacts_bounded_by_bits(self, quant_engine):
        assert (
            quant_engine.index.postings.filter(F.col("max_impact") > 255).count() == 0
        )

    def test_auto_bits_formula(self, spark, quant_pdf):
        """quantize_bits='auto' applies the reference's collection-size
        formula (memory_index.c:1553-1556, truncating cast) and every
        stored impact fits the selected width."""
        import math

        idx = build_index(
            spark,
            spark.createDataFrame(quant_pdf),
            block_bits=9,
            blocks_per_seg=3,
            quantize_bits="auto",
        )
        eng = SearchEngine(spark, idx)
        n = idx.docmap.count()
        assert eng.quant_bits == int(5.4 + 5.4e-4 * math.sqrt(n))
        assert (
            idx.postings.filter(
                F.col("max_impact") >= 2 ** eng.quant_bits
            ).count()
            == 0
        )

    def test_qaat_exact_rank_identical_taat_at_adddouble_scale(
        self, quant_engine
    ):
        """QaaT routes each impact through add_rsv(double)
        (quantum_parameters.tf is a double), scoring 1 + 100·impact
        per hit where TaaT adds the raw impact — binary-verified via
        reference_ab.py. Rank order must agree; the rsv relation is
        n_hits + 100·taat_rsv."""
        k = 2000  # full rankings: boundary ties would differ at small k
        a = quant_engine.search_batch(self.QUERIES, k=k).toPandas()
        b = quant_engine.search_qaat(
            self.QUERIES, k=k, early_termination=None
        ).toPandas()
        merged = a.merge(
            b, on=["query_id", "docid"], suffixes=("_t", "_q"), how="outer"
        )
        assert not merged["rsv_fixed_t"].isna().any()
        assert not merged["rsv_fixed_q"].isna().any()
        # per-doc: qaat = n_hits + 100*taat; n_hits in [1, n_terms]
        extra = merged["rsv_fixed_q"] - 100 * merged["rsv_fixed_t"]
        assert (extra >= 1).all() and (extra <= 8).all()

    def test_qaat_diff_rule_runs_and_reports_stats(self, quant_engine):
        res, stats = quant_engine.search_qaat(
            self.QUERIES, k=3, early_termination="diff", return_stats=True
        )
        got = res.toPandas()
        assert stats["total_quantums"] > 0
        assert stats["processed_quantums"] <= stats["total_quantums"]
        # the heuristic stop rule must still return full result lists
        exact = quant_engine.search_batch(self.QUERIES, k=3).toPandas()
        assert len(got) == len(exact)

    def test_qaat_on_unquantized_resets_termination(self, small_engine):
        # reference atire_api.c:1854-1857: early termination silently
        # reset to none on an unquantized index → exact results
        batch = [(1, "alpha 00001")]
        a = small_engine.search_batch(batch, k=10).toPandas()
        b = small_engine.search_qaat(batch, k=10, early_termination="diff").toPandas()
        pd.testing.assert_frame_equal(
            a.reset_index(drop=True), b.reset_index(drop=True)
        )


class TestPuurula:
    """lmp / lmptfidf need the -Ilmp length vectors
    (ranking_function_puurula.c:39-41); without them the engine
    refuses like the reference, with them ranking is deterministic
    and the ddl quantization (×1000 trunc) is visible in the table."""

    def test_requires_length_vectors(self, spark):
        import pandas as pd
        import pytest as _pytest

        from atire_spark.build import build_index
        from atire_spark.query import SearchEngine
        from atire_spark.synth import make_transcripts

        idx = build_index(spark, spark.createDataFrame(make_transcripts("tiny")))
        eng = SearchEngine(spark, idx)
        with _pytest.raises(ValueError, match="Puurula length"):
            eng.search_batch([(1, "alpha")], k=5, ranker="lmp")

    def test_lmp_scores_and_vectors(self, spark):
        import numpy as np

        from atire_spark.build import build_index
        from atire_spark.query import SearchEngine
        from atire_spark.synth import make_transcripts

        pdf = make_transcripts("tiny")
        idx = build_index(spark, spark.createDataFrame(pdf), puurula=True)
        aux = idx.puurula.orderBy("docid").limit(1).collect()[0]
        # g=0 stores the undiscounted tf sum ×1000; columns decrease in g
        ddl = list(aux["ddl"])
        assert ddl == sorted(ddl, reverse=True)
        assert ddl[0] % 1000 == 0  # g=0: integer tf sum ×1000 is exact
        eng = SearchEngine(spark, idx)
        for rk in ("lmp", "lmptfidf"):
            got = eng.search_batch([(1, "alpha bravo")], k=5, ranker=rk)
            rows = got.collect()
            assert 0 < len(rows) <= 5
            ranks = [r["rank"] for r in rows]
            assert ranks == list(range(1, len(rows) + 1))


class TestSimple9Index:
    """build_index(codec=...): same postings, same ranking — the
    codec changes only the wire format (compression_factory.c:59-77).
    Every factory scheme must rank identically to vbyte end-to-end."""

    def test_rank_identical_to_vbyte(self, spark):
        from atire_spark.build import build_index
        from atire_spark.kernels.codecs import CODEC_NAMES
        from atire_spark.query import SearchEngine
        from atire_spark.synth import make_transcripts

        pdf = make_transcripts("tiny")
        res = {}
        for codec in CODEC_NAMES:
            eng = SearchEngine(
                spark, build_index(spark, spark.createDataFrame(pdf), codec=codec)
            )
            res[codec] = [
                (r["query_id"], r["rank"], r["docid"], r["rsv_fixed"])
                for r in eng.search_batch(
                    [(1, "alpha bravo charlie"), (2, "delta")], k=20
                ).collect()
            ]
        for codec in CODEC_NAMES:
            assert res["vbyte"] == res[codec], codec


class TestDegenerateCorpora:
    """Regression: builds over corpora with zero postings must not
    crash (the quantized min/max aggregate returns NULL there)."""

    def test_quantized_build_with_no_postings(self, spark):
        import pandas as pd

        from atire_spark.build import build_index

        # every turn empty → no docids, no postings
        tr = spark.createDataFrame(
            pd.DataFrame(
                {"conv_id": ["c0", "c0"], "turn_idx": [0, 1], "text": ["", "  "]}
            )
        )
        idx = build_index(spark, tr, quantize_bits=8)
        assert idx.postings.count() == 0
        assert idx.docmap.count() == 0
        row = idx.stats.collect()[0]
        assert row["quant_min"] == 0.0 and row["quant_max"] == 0.0

    def test_search_engine_over_empty_unquantized_index(self, spark):
        """An all-empty unquantized index has NULL collection_len /
        mean_doc_len in its stats row (sums over zero docmap rows);
        the engine must construct and answer with zero rows."""
        import pandas as pd

        from atire_spark.build import build_index
        from atire_spark.query import SearchEngine

        tr = spark.createDataFrame(
            pd.DataFrame(
                {"conv_id": ["c0", "c0"], "turn_idx": [0, 1], "text": ["", "  "]}
            )
        )
        eng = SearchEngine(spark, build_index(spark, tr))
        assert eng.n_docs == 0 and eng.collection_len == 0
        assert eng.search_one("alpha", k=10).count() == 0


class TestQaatVariants:
    """QUANTUM_STOP_DIFF_SMALLEST / _LARGEST (atire_api.c:771-794):
    same base gate, tighter variant thresholds — stats-reporting
    heuristics whose exact mode stays rank-identical."""

    @pytest.fixture(scope="class")
    def qv_engine(self, spark):
        tdf = spark.createDataFrame(make_transcripts(200))
        idx = build_index(
            spark, tdf, block_bits=9, blocks_per_seg=3, quantize_bits=8
        )
        return SearchEngine(spark, idx)

    def test_variants_run_and_report_stats(self, qv_engine):
        for et in ("diff_smallest", "diff_largest"):
            res, stats = qv_engine.search_qaat(
                [(1, "alpha"), (2, "00001 00002")], k=5,
                early_termination=et, return_stats=True,
            )
            assert res.count() > 0
            assert 0 < stats["processed_quantums"] <= stats["total_quantums"]

    def test_unknown_variant_rejected(self, qv_engine):
        with pytest.raises(ValueError, match="early_termination"):
            qv_engine.search_qaat([(1, "alpha")], early_termination="wdand")


class TestCjkDictSegmentedBuild:
    def test_build_and_search_with_dict_segmenter(self, spark):
        import pandas as pd

        from atire_spark.kernels.tokenizer import dict_segmenter

        seg = dict_segmenter({"北京", "大学"})
        rows = [
            ("c0", 0, "visit 北京大学 campus"),
            ("c0", 1, "plain english turn here"),
            ("c1", 0, "北京 tourism guide text"),
        ]
        tr = spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
        )
        idx = build_index(spark, tr, cjk_segmenter=seg)
        eng = SearchEngine(spark, idx, cjk_segmenter=seg)
        # the dictionary word is ONE term in the index
        terms = {r["term"] for r in idx.postings.select("term").collect()}
        assert "北京" in terms and "大学" in terms
        assert "北" not in terms  # no single-char fallout for dict words
        res = eng.search_batch([(1, "北京")], k=5).toPandas()
        assert set(res.docid) == {0, 2}


class TestQaatSkewedPruning:
    """The uniform fixtures never trip QUANTUM_STOP_DIFF (adjacent
    top-k scores ~1 fixed-point unit apart); the skewed corpus
    (synth.make_transcripts_skewed) is the regime the rule exists
    for (atire_api.c:759-782): a decisive top-k gap over a long
    low-impact tail, so the tail quanta must be skipped while the
    top-k stays identical to exhaustive evaluation."""

    @pytest.fixture(scope="class")
    def skew_engine(self, spark):
        from atire_spark.synth import make_transcripts_skewed

        tdf = spark.createDataFrame(make_transcripts_skewed(2048))
        idx = build_index(spark, tdf, block_bits=13, quantize_bits=8)
        return SearchEngine(spark, idx)

    def test_stop_rule_fires_and_topk_agrees(self, skew_engine):
        q = [(1, "skewterm")]
        res, stats = skew_engine.search_qaat(
            q, k=10, early_termination="diff", return_stats=True
        )
        # the long tail (dozens of low quanta) must be skipped
        assert stats["processed_quantums"] < stats["total_quantums"] // 2
        got = res.toPandas()
        exact = skew_engine.search_qaat(
            q, k=10, early_termination=None
        ).toPandas()
        assert list(got.docid) == list(exact.docid)
        assert list(got.rsv_fixed) == list(exact.rsv_fixed)


class TestBlockMaxWand:
    """search_wand: exact document-space block-max pruning (WAND,
    Broder et al. CIKM 2003; block-max, Ding & Suel SIGIR 2011) over
    the impact-ordered (term, seg_group) segments. Unlike the QaaT
    stop rules it must be RANK-IDENTICAL to exhaustive evaluation —
    the θ₀ bound is certified, not heuristic."""

    @pytest.fixture(scope="class")
    def wand_engine(self, spark):
        tdf = spark.createDataFrame(make_transcripts(200))
        idx = build_index(
            spark, tdf, block_bits=9, blocks_per_seg=3, quantize_bits=8
        )
        return SearchEngine(spark, idx)

    BATCH = [
        (1, "alpha"),
        (2, "00001 00002"),
        (3, "00001 00002 00003 alpha"),
        (4, "zzznotaterm"),
        (5, "00007 zzznotaterm"),
    ]

    @pytest.mark.parametrize("k", [1, 5, 20])
    def test_rank_identical_to_taat(self, wand_engine, k):
        got = wand_engine.search_wand(self.BATCH, k=k).toPandas()
        exact = wand_engine.search_batch(self.BATCH, k=k).toPandas()
        cols = ["query_id", "rank", "docid", "rsv_fixed"]
        pd.testing.assert_frame_equal(
            got[cols].reset_index(drop=True),
            exact[cols].reset_index(drop=True),
        )

    def test_skewed_corpus_skips_segments(self, spark):
        from atire_spark.synth import make_transcripts_skewed

        # small blocks spread the low-impact tail docs over many
        # seg_groups; θ₀ (the bridge doc's impact, the kth guarantee)
        # then prunes every tail-only group before its bytes are read
        tdf = spark.createDataFrame(make_transcripts_skewed(2048))
        idx = build_index(spark, tdf, block_bits=5, quantize_bits=8)
        eng = SearchEngine(spark, idx)
        q = [(1, "skewterm"), (2, "skewterm pad")]
        res, stats = eng.search_wand(q, k=10, return_stats=True)
        assert stats["segments_scored"] < stats["segments_total"]
        got = res.toPandas()
        exact = eng.search_batch(q, k=10).toPandas()
        cols = ["query_id", "rank", "docid", "rsv_fixed"]
        pd.testing.assert_frame_equal(
            got[cols].reset_index(drop=True),
            exact[cols].reset_index(drop=True),
        )

    def test_unquantized_rejected(self, small_engine):
        with pytest.raises(ValueError, match="quantized"):
            small_engine.search_wand([(1, "alpha")])

    @pytest.mark.parametrize("return_stats", [False, True])
    def test_negative_query_id_ranks_as_search_batch(
        self, wand_engine, return_stats
    ):
        """The scorer's stats travel in side columns, not in a reserved
        query id: a negative query id ranks exactly as in search_batch,
        with or without stats."""
        batch = [(1, "alpha"), (-1, "00001 00002"), (-7, "alpha 00003")]
        got = wand_engine.search_wand(batch, k=5, return_stats=return_stats)
        if return_stats:
            got, stats = got
            assert 0 < stats["segments_scored"] <= stats["segments_total"]
        cols = ["query_id", "rank", "docid", "rsv_fixed"]
        exact = wand_engine.search_batch(batch, k=5).toPandas()
        assert set(exact.query_id) == {1, -1, -7}
        pd.testing.assert_frame_equal(
            got.toPandas()[cols].reset_index(drop=True),
            exact[cols].reset_index(drop=True),
        )

    def test_return_stats_releases_cached_candidates(self, spark, wand_engine):
        """search_wand and search_qaat cache their candidates for the
        stats pass only until the results are materialized: repeated
        calls leave no persisted RDD behind, and the results still
        equal exhaustive evaluation."""
        jsc = spark.sparkContext._jsc
        exact = wand_engine.search_batch(self.BATCH, k=5).toPandas()
        before = jsc.getPersistentRDDs().size()
        cols = ["query_id", "rank", "docid", "rsv_fixed"]
        for _ in range(3):
            for search in (wand_engine.search_wand, wand_engine.search_qaat):
                res, _stats = search(self.BATCH, k=5, return_stats=True)
                if search == wand_engine.search_wand:
                    pd.testing.assert_frame_equal(
                        res.toPandas()[cols], exact[cols]
                    )
        assert jsc.getPersistentRDDs().size() == before


class TestInterpolatedFeedback:
    """FEEDBACK_INTERPOLATED (Puurula's ALTA, atire_api.c:1407-1555)
    on the lmp ranker — the SQL-oracle parity lives in the entry
    contract; here: the interpolation is not a no-op, and it degrades
    to unchanged weights when no query term appears in the top docs."""

    def test_changes_ranking_and_requires_puurula(self, spark):
        from atire_spark.build import build_index
        from atire_spark.synth import make_transcripts

        pdf = make_transcripts(120)
        peng = SearchEngine(
            spark, build_index(spark, spark.createDataFrame(pdf), puurula=True)
        )
        qs = [(1, "alpha 00001"), (2, "zzzmissing")]
        fb = peng.search_feedback_interpolated(
            qs, k=10, feedback_documents=5
        ).toPandas()
        plain = peng.search_batch(qs, k=10, ranker="lmp").toPandas()
        # q1: reweighting moved at least one rank position or score
        a = fb[fb.query_id == 1][["docid", "rsv_fixed"]].reset_index(drop=True)
        b = plain[plain.query_id == 1][["docid", "rsv_fixed"]].reset_index(
            drop=True
        )
        assert not a.equals(b)
        # q2: no hits at all -> empty both ways
        assert len(fb[fb.query_id == 2]) == 0
        # engine without -Ilmp vectors refuses
        eng = SearchEngine(
            spark, build_index(spark, spark.createDataFrame(pdf))
        )
        with pytest.raises(ValueError, match="lmp"):
            eng.search_feedback_interpolated(qs, k=10)


class TestNexiCas:
    """CAS parse degradation (nexi.c:510-567): about-clause term bags,
    numeric-predicate value terms, and the reference's error codes
    (last parse_error wins, nexi.c:293-300) which refuse the query."""

    CASES = [
        ("//sec[about(., dup)]", [("dup", 0)], "ERROR_NONE"),
        (
            "//article//p[about(.//title, spark merge)]",
            [("spark", 0), ("merge", 0)],
            "ERROR_NONE",
        ),
        (
            "//sec[about(., +dup -spark)]",
            [("dup", 1), ("spark", -1)],
            "ERROR_NONE",
        ),
        (
            # a phrase is ONE inert verbatim term (binary-verified:
            # quoted phrases contribute nothing to ranked scoring)
            '//sec[about(., "hash join") and about(., window)]',
            [('"hash join"', 0), ("window", 0)],
            "ERROR_NONE",
        ),
        ("//article[.//size > 5]", [("5", 0)], "ERROR_NONE"),
        ("//sec[dup]", [], "ERROR_MISSING_ABOUT_CLAUSE"),
        ("//sec[about(, dup)]", [], "ERROR_MISSING_CLOSE_SQUARE_BRACKET"),
        ("//sec about(., dup)", [], "ERROR_MISSING_DOUBLE_SLASH"),
    ]

    @pytest.mark.parametrize("text,want,err", CASES)
    def test_parse(self, text, want, err):
        from atire_spark.query import parse_nexi_cas

        terms, got_err = parse_nexi_cas(text)
        assert got_err == err
        if err == "ERROR_NONE":
            assert [(t.term, t.sign) for t in terms] == want

    def test_error_queries_contribute_no_rows(self, small_engine):
        res = small_engine.search_cas(
            [(1, "//sec[about(., alpha)]"), (2, "//sec[alpha]")], k=5
        ).toPandas()
        assert set(res.query_id) == {1}

    def test_co_dispatch_matches_plain_search(self, small_engine):
        a = small_engine.search_cas([(1, "alpha 00001")], k=10).toPandas()
        b = small_engine.search_batch([(1, "alpha 00001")], k=10).toPandas()
        pd.testing.assert_frame_equal(a, b)


class TestWandWrapGuard:
    """A query whose maximum possible pre-wrap score reaches the uint16
    wrap point must disable pruning (θ₀ = 0) and stay rank-identical —
    wrapped scores are not monotone in the block-max bounds."""

    def test_wrap_query_prunes_nothing_and_stays_exact(self, spark):
        tdf = spark.createDataFrame(make_transcripts(120))
        idx = build_index(spark, tdf, block_bits=5, quantize_bits=8)
        eng = SearchEngine(spark, idx)
        # capterm's quantized max impact is ~255 (the 300× planted
        # turn), so weight 300 × 255 ≥ 2^16 — wrap genuinely possible;
        # a low-impact term at the same weight would NOT trip the
        # guard and pruning would stay on (and stay sound)
        q = [(1, " ".join(["capterm"] * 300))]
        res, stats = eng.search_wand(q, k=5, return_stats=True)
        assert stats["segments_scored"] == stats["segments_total"]
        got = res.toPandas()
        want = eng.search_batch(q, k=5).toPandas()
        assert list(got.docid) == list(want.docid)
        assert list(got.rsv_fixed) == list(want.rsv_fixed)


def test_null_text_turns_are_skipped_like_empty(spark):
    """A NULL text cell (legal in a real transcripts table — e.g. a
    tool turn with no content) must behave exactly like an empty turn:
    no docid, no postings, no effect on the other rows of its Arrow
    batch."""
    import pandas as pd

    from atire_spark.build import build_index
    from atire_spark.query import SearchEngine

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c0", "c1"],
            "turn_idx": [0, 1, 0],
            "text": ["alpha bravo", None, "alpha charlie"],
        }
    )
    eng = SearchEngine(spark, build_index(spark, spark.createDataFrame(pdf)))
    assert eng.n_docs == 2  # the NULL turn got no docid
    hits = {
        (int(r["docid"]), int(r["rsv_fixed"]))
        for r in eng.search_one("bravo", k=10).collect()
    }
    assert hits == {(0, 70)}
    # df == N -> idf 0 -> skipped, the reference's
    # ranking_function_bm25.c:91-92 rule (alpha is in both live docs)
    assert eng.search_one("alpha", k=10).count() == 0


def test_null_key_columns_rejected_with_actionable_error(spark):
    """NULL conv_id / turn_idx cannot participate in the stable key
    ordering docids derive from — the build must fail with a clear
    message, not a TypeError deep inside a comparison kernel."""
    import pandas as pd
    import pytest

    from atire_spark.build import build_index
    from atire_spark.build import write_index

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", None, "c1"],
            "turn_idx": [0, 0, 0],
            "text": ["alpha bravo", "poison delta", "alpha charlie"],
        }
    )
    with pytest.raises(Exception, match="non-null key"):
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            write_index(
                build_index(spark, spark.createDataFrame(pdf)), f"{tmp}/idx"
            )


def test_duplicate_key_rejected(spark):
    """(conv_id, turn_idx) must be a key: a duplicate would make docid
    assignment depend on shuffle arrival order, silently breaking the
    stable-ordering / resume invariant. Detection rides the sorted
    staging pass (duplicates are adjacent there), so it costs nothing."""
    import tempfile

    import pandas as pd
    import pytest

    from atire_spark.build import build_index, write_index

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1", "c1"],
            "turn_idx": [0, 3, 3],
            "text": ["alpha", "bravo one", "bravo two"],
        }
    )
    with pytest.raises(Exception, match="uniquely identify"):
        with tempfile.TemporaryDirectory() as tmp:
            write_index(
                build_index(spark, spark.createDataFrame(pdf)), f"{tmp}/idx"
            )
