"""Resumable-build tests: interrupt, resume, and verify byte-identical
output + lineage metrics."""

import shutil

import pytest
from pyspark.sql import functions as F

from atire_spark.build import build_index
from atire_spark.checkpoint import build_index_checkpointed
from atire_spark.oracle import OracleIndex
from atire_spark.query import SearchEngine
from atire_spark.synth import make_transcripts


@pytest.fixture()
def workdir(tmp_path):
    d = str(tmp_path / "idx")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class FailAfter(Exception):
    pass


def test_checkpointed_build_matches_direct(spark, workdir):
    pdf = make_transcripts("tiny")
    tdf = spark.createDataFrame(pdf)
    tables = build_index_checkpointed(
        spark, tdf, workdir, n_chunks=2, n_term_chunks=2, block_bits=5, blocks_per_seg=2
    )
    direct = build_index(spark, tdf, block_bits=5, blocks_per_seg=2)

    # identical docmap
    got = tables.docmap.orderBy("docid").toPandas()
    want = direct.docmap.orderBy("docid").toPandas()
    assert got.equals(want)

    # identical postings bytes (the strongest equality)
    a = (
        tables.postings.select("term", "seg_group", "postings", "doc_lens")
        .orderBy("term", "seg_group")
        .toPandas()
    )
    b = (
        direct.postings.select("term", "seg_group", "postings", "doc_lens")
        .orderBy("term", "seg_group")
        .toPandas()
    )
    assert list(a["postings"]) == list(b["postings"])
    assert list(a["doc_lens"]) == list(b["doc_lens"])


def test_resume_skips_done_chunks_and_is_identical(spark, workdir, monkeypatch):
    pdf = make_transcripts("tiny")
    tdf = spark.createDataFrame(pdf)

    # first run: crash after the tokenize phase logs 2 chunks
    import atire_spark.checkpoint as cp

    real_append = cp._append_log
    calls = {"n": 0}

    def crashing_append(spark_, wd, row):
        real_append(spark_, wd, row)
        calls["n"] += 1
        if calls["n"] == 2:
            raise FailAfter()

    monkeypatch.setattr(cp, "_append_log", crashing_append)
    with pytest.raises(FailAfter):
        build_index_checkpointed(spark, tdf, workdir, n_chunks=3, n_term_chunks=2)
    monkeypatch.setattr(cp, "_append_log", real_append)

    # resume: must skip the two finished tokenize chunks
    tables = build_index_checkpointed(spark, tdf, workdir, n_chunks=3, n_term_chunks=2)
    log = tables.build_log.toPandas()
    tok_rows = log[log["phase"] == "tokenize"]
    assert len(tok_rows) == 3  # 2 from run 1 + 1 from resume, no re-runs
    assert tok_rows["status"].eq("ok").all()
    assert set(tok_rows["run_id"]).__len__() == 2  # two distinct runs

    # lineage metrics present
    post_rows = log[log["phase"] == "postings"]
    assert (post_rows["postings_emitted"] > 0).all()
    assert (post_rows["bytes_compressed"] > 0).all()
    assert tok_rows["turns_parsed"].sum() == len(pdf)

    # resumed index is rank-identical to the oracle
    eng = SearchEngine(spark, tables)
    oracle = OracleIndex.build(pdf)
    got = eng.search_one("alpha", k=10).toPandas()
    want = oracle.search("alpha", k=10)
    assert list(got["docid"]) == list(want["docid"])
    assert list(got["rsv_fixed"]) == list(want["rsv_fixed"])


def test_checkpointed_quantized_matches_direct(spark, workdir):
    """-Q through the resumable path: the chunked min/max phase must
    compose to the same global bounds the direct build computes, so
    the quantized postings bytes — and every downstream ranking —
    are identical."""
    pdf = make_transcripts("tiny")
    tdf = spark.createDataFrame(pdf)
    tables = build_index_checkpointed(
        spark, tdf, workdir, n_chunks=2, n_term_chunks=2, block_bits=5,
        blocks_per_seg=2, quantize_bits=8,
    )
    direct = build_index(spark, tdf, block_bits=5, blocks_per_seg=2, quantize_bits=8)

    srow = tables.stats.collect()[0].asDict()
    drow = direct.stats.collect()[0].asDict()
    assert srow["quantized"] == 1 and srow["quant_bits"] == 8
    assert srow["quant_min"] == pytest.approx(drow["quant_min"])
    assert srow["quant_max"] == pytest.approx(drow["quant_max"])

    a = (
        tables.postings.select("term", "seg_group", "postings")
        .orderBy("term", "seg_group")
        .toPandas()
    )
    b = (
        direct.postings.select("term", "seg_group", "postings")
        .orderBy("term", "seg_group")
        .toPandas()
    )
    assert list(a["postings"]) == list(b["postings"])

    # the quantized engine paths (QaaT / WAND need is_quantized) see it
    eng = SearchEngine(spark, tables)
    assert eng.quantized and eng.quant_bits == 8
    got = eng.search_wand([(1, "alpha")], k=5).toPandas()
    want = SearchEngine(spark, direct).search_batch([(1, "alpha")], k=5).toPandas()
    assert list(got.docid) == list(want.docid)
    assert list(got.rsv_fixed) == list(want.rsv_fixed)


def test_resume_with_different_flags_rejected(spark, workdir):
    """A crashed unquantized run resumed with -Q would silently mix
    impact kinds across postings chunks; the parameter pin refuses."""
    tdf = spark.createDataFrame(make_transcripts("tiny"))
    build_index_checkpointed(
        spark, tdf, workdir, n_chunks=2, n_term_chunks=2, block_bits=5,
        blocks_per_seg=2,
    )
    with pytest.raises(ValueError, match="different build parameters"):
        build_index_checkpointed(
            spark, tdf, workdir, n_chunks=2, n_term_chunks=2, block_bits=5,
            blocks_per_seg=2, quantize_bits=8,
        )
