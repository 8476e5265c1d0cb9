"""Structured Streaming ingestion: incremental appends must converge
to the same searchable state as one batch build (the reference's
multi-part-index + merge recipe, run continuously)."""

import glob
import os
import tempfile

import pandas as pd
import pytest

BATCH1 = pd.DataFrame(
    {
        "conv_id": ["s0", "s0", "s1"],
        "turn_idx": [0, 1, 0],
        "text": [
            "alpha bravo charlie alpha",
            "bravo delta",
            "echo alpha foxtrot",
        ],
    }
)
BATCH2 = pd.DataFrame(
    {
        "conv_id": ["s2", "s2", "s3"],
        "turn_idx": [0, 1, 0],
        "text": [
            "charlie delta delta golf",
            "alpha golf",
            "",  # empty turn: no docid
        ],
    }
)


@pytest.fixture()
def stream_dirs():
    with tempfile.TemporaryDirectory() as tmp:
        yield os.path.join(tmp, "idx"), os.path.join(tmp, "ckpt")


def _rsv_by_doc(eng, query):
    res = eng.search_one(query, k=50)
    return {
        (r["conv_id"], int(r["turn_idx"])): int(r["rsv_fixed"])
        for r in eng.materialize(res).collect()
    }


def test_incremental_appends_match_batch_build(spark, stream_dirs):
    from atire_spark.build import build_index
    from atire_spark.query import SearchEngine
    from atire_spark.streaming import append_batch, load_stream_index

    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    n1 = append_batch(spark, spark.createDataFrame(BATCH1), index_dir, 0)
    n2 = append_batch(spark, spark.createDataFrame(BATCH2), index_dir, 1)
    assert (n1, n2) == (3, 2)  # the empty turn consumed no docid

    streamed = SearchEngine(spark, load_stream_index(spark, index_dir))
    full = pd.concat([BATCH1, BATCH2], ignore_index=True)
    batch = SearchEngine(spark, build_index(spark, spark.createDataFrame(full)))

    # identical collection stats
    assert streamed.n_docs == batch.n_docs == 5
    assert streamed.collection_len == batch.collection_len
    # identical global term stats
    ts_s = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in streamed.postings.select("term", "df", "cf").distinct().collect()
    }
    ts_b = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in batch.postings.select("term", "df", "cf").distinct().collect()
    }
    assert ts_s == ts_b
    # identical scores per document identity (docids may be assigned in
    # arrival vs sorted order — both are valid reference input orders)
    for q in ["alpha", "delta golf", "charlie bravo"]:
        assert _rsv_by_doc(streamed, q) == _rsv_by_doc(batch, q)


def test_single_batch_stream_postings_bytes_match_batch_build(spark, stream_dirs):
    """One appended batch writes the same docmap and the same segment
    bytes (postings and doc_lens) as a batch build with the stream's
    geometry over the same rows: both run the one stage-1 kernel."""
    from atire_spark.build import build_index
    from atire_spark.streaming import STREAM_BLOCK_BITS, append_batch
    from atire_spark.synth import make_transcripts

    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    tdf = spark.createDataFrame(make_transcripts("tiny"))
    assert append_batch(spark, tdf, index_dir, 0) > 0
    direct = build_index(spark, tdf, block_bits=STREAM_BLOCK_BITS, blocks_per_seg=1)

    def segments(df):
        return sorted(
            (r["term"], r["seg_group"], bytes(r["postings"]), bytes(r["doc_lens"]))
            for r in df.select("term", "seg_group", "postings", "doc_lens").collect()
        )

    def docmap(df):
        return sorted(tuple(r) for r in df.select(*direct.docmap.columns).collect())

    assert segments(spark.read.parquet(f"{index_dir}/segments")) == segments(
        direct.postings
    )
    assert docmap(spark.read.parquet(f"{index_dir}/docmap")) == docmap(direct.docmap)


def test_ingest_log_counts_turns_seen(spark, stream_dirs):
    """turns_seen counts every turn of the batch, empty ones included;
    docs_added counts only the turns that got a docid."""
    from atire_spark.streaming import append_batch, read_ingest_log

    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    empty = pd.DataFrame({"conv_id": ["e0"], "turn_idx": [0], "text": [""]})
    assert append_batch(spark, spark.createDataFrame(BATCH2), index_dir, 0) == 2
    assert append_batch(spark, spark.createDataFrame(empty), index_dir, 1) == 0
    log = read_ingest_log(spark, index_dir).orderBy("epoch").collect()
    assert [(r["epoch"], r["turns_seen"], r["docs_added"]) for r in log] == [
        (0, 3, 2),
        (1, 1, 0),
    ]
    assert log[1]["postings_rows"] == 0 and log[1]["postings_bytes"] == 0


def test_epoch_replay_is_idempotent(spark, stream_dirs):
    from atire_spark.streaming import append_batch, load_stream_index

    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    assert append_batch(spark, spark.createDataFrame(BATCH1), index_dir, 0) == 3
    # restart replays epoch 0: must be a no-op
    assert append_batch(spark, spark.createDataFrame(BATCH1), index_dir, 0) == 0
    idx = load_stream_index(spark, index_dir)
    assert idx.docmap.count() == 3

    # lineage: exactly one committed-epoch metrics row (the replay
    # logged nothing), with real posting volume
    from atire_spark.streaming import read_ingest_log

    log = read_ingest_log(spark, index_dir).collect()
    assert len(log) == 1
    row = log[0]
    assert row["epoch"] == 0 and row["docs_added"] == 3
    assert row["postings_rows"] > 0 and row["postings_bytes"] > 0
    assert row["wall_sec"] > 0


def test_appends_leave_no_staging_dirs(spark, stream_dirs, tmp_path, monkeypatch):
    """append_batch removes the directory it stages a batch in once the
    epoch is written, also for a batch that adds no document."""
    from atire_spark.streaming import append_batch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    empty = pd.DataFrame({"conv_id": ["e0"], "turn_idx": [0], "text": [""]})
    assert append_batch(spark, spark.createDataFrame(BATCH1), index_dir, 0) == 3
    assert append_batch(spark, spark.createDataFrame(empty), index_dir, 1) == 0
    assert append_batch(spark, spark.createDataFrame(BATCH2), index_dir, 2) == 2
    assert not glob.glob(os.path.join(tempfile.gettempdir(), "atire_stream_stage_*"))


def test_compacted_stream_index_scores_identical(spark, stream_dirs):
    """Compaction to the batch layout must not change a single score,
    and must shrink the posting file count (the point of compacting)."""
    import glob

    from atire_spark.build import load_index
    from atire_spark.query import SearchEngine
    from atire_spark.streaming import (
        append_batch,
        compact_stream_index,
        load_stream_index,
    )

    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    append_batch(spark, spark.createDataFrame(BATCH1), index_dir, 0)
    append_batch(spark, spark.createDataFrame(BATCH2), index_dir, 1)
    streamed = SearchEngine(spark, load_stream_index(spark, index_dir))

    out = index_dir + "_compact"
    compact_stream_index(spark, index_dir, out)
    compacted = SearchEngine(spark, load_index(spark, out))

    for q in ("alpha", "delta golf", "charlie"):
        assert _rsv_by_doc(compacted, q) == _rsv_by_doc(streamed, q)

    n_stream = len(glob.glob(f"{index_dir}/segments/*.parquet"))
    n_compact = len(glob.glob(f"{out}/postings/*.parquet"))
    assert n_compact < n_stream


def test_readstream_file_source_drains(spark, stream_dirs):
    """End-to-end through writeStream/foreachBatch with a file source
    and availableNow trigger (one file per micro-batch)."""
    from atire_spark.query import SearchEngine
    from atire_spark.streaming import load_stream_index, stream_build

    index_dir, ckpt = stream_dirs
    with tempfile.TemporaryDirectory() as src:
        spark.createDataFrame(BATCH1).coalesce(1).write.parquet(f"{src}/b1")
        spark.createDataFrame(BATCH2).coalesce(1).write.parquet(f"{src}/b2")
        stream = (
            spark.readStream.schema("conv_id string, turn_idx long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = stream_build(spark, stream, index_dir, ckpt)
        q.awaitTermination(120)
    eng = SearchEngine(spark, load_stream_index(spark, index_dir))
    assert eng.n_docs == 5
    got = eng.search_one("alpha", k=10).count()
    assert got == 3  # three docs contain alpha (s0/0, s1/0, s2/1)


def test_streamed_index_topsig_equals_batch(spark, stream_dirs):
    """TopSig signatures built over a streamed index equal the batch
    build's bit-for-bit (arrival order here coincides with the sorted
    order, so docids match and even the docid-seeded zero-fill bits
    agree). The streamed side exercises the re-tokenize fallback while
    the batch side reads the staged tokenized parquet — so this also
    certifies the two tokenized sources are interchangeable."""
    import numpy as np

    from atire_spark.build import build_index
    from atire_spark.streaming import append_batch, load_stream_index
    from atire_spark.topsig import build_topsig

    index_dir, _ = stream_dirs
    os.makedirs(index_dir, exist_ok=True)
    append_batch(spark, spark.createDataFrame(BATCH1), index_dir, 0)
    append_batch(spark, spark.createDataFrame(BATCH2), index_dir, 1)
    streamed_idx = load_stream_index(spark, index_dir)
    assert streamed_idx.tokenized is None  # loaded → fallback path

    full = pd.concat([BATCH1, BATCH2], ignore_index=True)
    full_df = spark.createDataFrame(full)
    batch_idx = build_index(spark, full_df)
    assert batch_idx.tokenized is not None  # fresh → staged path

    s_sigs = {
        int(r["docid"]): np.asarray(r["sig"], dtype=np.int64)
        for r in build_topsig(
            spark, full_df, streamed_idx, width=256, density=12.0
        ).collect()
    }
    b_sigs = {
        int(r["docid"]): np.asarray(r["sig"], dtype=np.int64)
        for r in build_topsig(
            spark, full_df, batch_idx, width=256, density=12.0
        ).collect()
    }
    assert s_sigs.keys() == b_sigs.keys() and len(s_sigs) == 5
    for d in s_sigs:
        assert np.array_equal(s_sigs[d], b_sigs[d]), f"doc {d}"
