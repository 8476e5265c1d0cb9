"""Build-path regression guards for the single-tokenize build:
the at-scale shuffle-join docid path must produce an index identical
to the broadcast path, and the shuffle/segment sizing rules must keep
their shape."""

from __future__ import annotations

import numpy as np
import pandas as pd

from atire_spark import build as B
from atire_spark.build import build_index

TRANSCRIPTS = pd.DataFrame(
    {
        "conv_id": [f"c{i:03d}" for i in range(12) for _ in range(2)],
        "turn_idx": [0, 1] * 12,
        "text": [
            f"alpha bravo term{i % 5} shared words here number {i}"
            for i in range(24)
        ],
    }
)


def _decoded(idx):
    from atire_spark.kernels.impact import decode_segment

    out = []
    for row in idx.postings.collect():
        d, t, _ = decode_segment(
            np.asarray(row["impacts"]),
            np.asarray(row["doc_counts"]),
            row["postings"],
            None,
        )
        out.extend((row["term"], int(x), int(y)) for x, y in zip(d, t))
    return sorted(out)


def test_shuffle_join_docid_path_identical(spark, monkeypatch):
    """BROADCAST_DOCMAP_MAX=0 forces the web-scale shuffle join in
    pass 3; postings and docmap must be identical to the broadcast
    path (the only difference is the join strategy)."""
    base = build_index(spark, spark.createDataFrame(TRANSCRIPTS))
    monkeypatch.setattr(B, "BROADCAST_DOCMAP_MAX", 0)
    big = build_index(spark, spark.createDataFrame(TRANSCRIPTS))
    assert _decoded(big) == _decoded(base)
    a = [tuple(r) for r in base.docmap.orderBy("docid").collect()]
    b = [tuple(r) for r in big.docmap.orderBy("docid").collect()]
    assert a == b


def test_token_row_without_docmap_row_raises(spark, monkeypatch):
    """A side-written token row whose key has no docmap row fails the
    build in the stage-1 kernel instead of silently dropping that
    document's postings, under the broadcast docmap join and under
    the shuffle join BROADCAST_DOCMAP_MAX=0 forces."""
    import pytest
    from pyspark.sql import functions as F

    real = B._docids_from_keys

    def lossy(*args):
        parts, docmap, n, coll_len = real(*args)
        return parts, docmap.filter(F.col("conv_id") != "c003"), n, coll_len

    monkeypatch.setattr(B, "_docids_from_keys", lossy)
    for cap in (B.BROADCAST_DOCMAP_MAX, 0):
        monkeypatch.setattr(B, "BROADCAST_DOCMAP_MAX", cap)
        with pytest.raises(Exception, match="absent from the docmap"):
            build_index(spark, spark.createDataFrame(TRANSCRIPTS)).postings.collect()


def test_shuffle_sizing_shape():
    f = B.shuffle_partitions_for_tokens
    # small corpora: one partition per core, never fewer
    assert f(10_000, 32) == 32
    # big corpora: pair budget governs (3M pairs per partition)
    assert f(96_000_000, 8) == 32
    assert f(3_000_000_000, 32) == 1000


def test_adaptive_block_bits_shape():
    f = B._adaptive_block_bits
    # small-corpus floor
    assert f(100, 8) == 10
    # 140k docs / 32 cores -> ~parallelism/4 segments (span 4n/P)
    assert f(140_000, 32) == 15
    # the 1M-doc cap governs at cluster scale
    assert f(10**12, 4000) == 20


def test_stage_dir_reuse_cleans_stale_token_parts(spark, tmp_path):
    """ADVICE r4: a reused stage_dir whose prior build had MORE input
    partitions leaves extra part-*.parquet files in tokens_dir; the
    reader would silently mix them in (duplicate postings the key
    check cannot see). The build must clear the side-write dir first."""
    stage = str(tmp_path / "stage")
    # first build: force many input partitions -> many part files
    wide = spark.createDataFrame(TRANSCRIPTS).repartition(16)
    build_index(spark, wide, stage_dir=stage).postings.collect()
    import os

    n_wide = len(
        [f for f in os.listdir(f"{stage}/tokens") if f.startswith("part-")]
    )
    assert n_wide >= 9  # wider than the narrow rebuild below
    # second build into the SAME stage_dir with fewer partitions
    narrow = spark.createDataFrame(TRANSCRIPTS).coalesce(1)
    reused = build_index(spark, narrow, stage_dir=stage)
    fresh = build_index(spark, spark.createDataFrame(TRANSCRIPTS))
    assert _decoded(reused) == _decoded(fresh)


def test_docmap_broadcast_max_scales_with_driver_memory():
    """The broadcast-docmap row cap is gated by the configured driver
    heap: the driver collects + serializes the whole table, so a fixed
    20M constant would OOM a default-memory driver (ADVICE r4)."""

    class _Conf:
        def __init__(self, mem):
            self._mem = mem

        def get(self, key, default=None):
            return self._mem

    class _Spark:
        def __init__(self, mem):
            self.conf = _Conf(mem)

    assert B._parse_jvm_mem("2g") == 2 * 2**30
    assert B._parse_jvm_mem("512M") == 512 * 2**20
    assert B._parse_jvm_mem("1048576") == 2**20
    # 48g driver (the sandbox session default) -> the full 20M cap
    assert B.docmap_broadcast_max(_Spark("48g")) == B.BROADCAST_DOCMAP_MAX
    # 2g default driver -> ~1.1M rows, far from the OOM regime
    small = B.docmap_broadcast_max(_Spark("2g"))
    assert 500_000 < small < 2_000_000


def test_segment_binary_offset_overflow_guard():
    """pa.binary() offsets are int32; a >2 GiB per-partition blob must
    raise loudly instead of wrapping silently (ADVICE r4 — the merge
    path's encode has no n_shuffle sizing, so partition size is
    unbounded at scale)."""
    import pytest

    from atire_spark.kernels import segment as S

    ok = S._binary_array(b"abcd", np.array([0, 2, 4], dtype=np.int64))
    assert ok.to_pylist() == [b"ab", b"cd"]
    with pytest.raises(ValueError, match="2 GiB"):
        S._binary_array(b"", np.array([0, 2**31 + 8], dtype=np.int64))


def _tokenized_frame(spark, rows):
    """rows: (conv_id, turn_idx, doc_len, terms)."""
    pdf = pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": [r[1] for r in rows],
            "doc_len": [r[2] for r in rows],
            "terms": [r[3] for r in rows],
            "occs": [[1] * len(r[3]) for r in rows],
        }
    )
    return spark.createDataFrame(pdf, schema=B.TOKENIZED_SCHEMA)


def test_classic_path_duplicate_check_sees_empty_rows(spark, tmp_path):
    """The staged (streaming-ingest) path's duplicate-key check must
    run BEFORE the doc_len > 0 filter: a key duplicated between an
    empty and a non-empty turn is just as order-unstable (ADVICE r4)."""
    import pytest

    tok = _tokenized_frame(
        spark,
        [
            ("c0", 0, 2, ["alpha", "bravo"]),
            ("c0", 0, 0, []),  # duplicate key, empty turn
            ("c1", 0, 1, ["alpha"]),
        ],
    )
    with pytest.raises(Exception, match="duplicate transcripts key"):
        B._stage_sorted(tok, str(tmp_path / "st"))[0].collect()


def test_classic_path_null_key_check_is_exhaustive(spark, tmp_path):
    """A NULL-keyed row that tokenizes to NOTHING must still be
    rejected deterministically — acceptance can never depend on
    whether the range-bounds sampling pass happened to draw it
    (ADVICE r4: same corpus passing at one size, failing at another)."""
    import pytest

    tok = _tokenized_frame(
        spark,
        [
            ("c0", 0, 1, ["alpha"]),
            (None, 0, 0, []),  # NULL key, never-indexed row
            ("c1", 0, 1, ["bravo"]),
        ],
    )
    with pytest.raises(Exception, match="non-null key"):
        B._stage_sorted(tok, str(tmp_path / "st"))[0].collect()


def test_classic_path_empty_rows_do_not_shift_docids(spark, tmp_path):
    """Moving the doc_len filter inside the stamp must leave docid
    assignment unchanged: empty rows are dup-checked, then dropped
    without consuming a docid or a local_idx slot."""
    tok = _tokenized_frame(
        spark,
        [
            ("c0", 0, 1, ["alpha"]),
            ("c0", 1, 0, []),
            ("c1", 0, 1, ["bravo"]),
            ("c2", 0, 0, []),
            ("c2", 1, 1, ["charlie"]),
        ],
    )
    staged, offsets, n, coll_len = B._stage_sorted(tok, str(tmp_path / "st"))
    assert n == 3 and coll_len == 3
    got = sorted(
        (r["conv_id"], int(r["turn_idx"]), int(r["local_idx"]))
        for r in staged.collect()
    )
    # dense per-bucket local_idx over survivors only
    pids = {r["conv_id"]: int(r["pid"]) for r in staged.collect()}
    docids = sorted(
        offsets[pids[c]] + i for c, _, i in got
    )
    assert docids == [0, 1, 2]
