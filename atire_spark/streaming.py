"""Structured Streaming ingestion — incremental index build.

The reference has no streaming (SURVEY.md §2.5: ATIRE is batch + an
interactive query server); its recipe for growing collections is
"build partial indexes, then atire_merge" (reference README.md:78-93).
Structured Streaming turns that recipe continuous: every micro-batch
is a partial index appended as more segment rows, and the query side
needs NO merge step because it already unions a term's segments
(score-neutral: BM25 needs only global df — aggregated at load — and
per-posting (tf, doc_len) stored inline).

Semantics:
- docids are assigned in ARRIVAL order: batches get consecutive docid
  ranges, rows within a batch ordered by (conv_id, turn_idx). This is
  the reference's own docid rule — input order (atire/index.c:507) —
  with the stream as the input. A batch runs the batch build's own
  passes 1-3 (:func:`atire_spark.build._docid_token_rows`: one
  tokenize, one key sort, one docmap join), and its docids are then
  offset by the documents already indexed, a plain column add.
- ``block_bits`` is pinned at stream start so every batch's docid
  blocks land in the same segment-group geometry.
- per-batch term stats land in a small ``term_stats`` table;
  :func:`load_stream_index` aggregates it (metadata-sized) and joins
  global df/cf onto the segments — the scale path never rewrites old
  segments.
- exactly-once: the foreachBatch epoch id is recorded with the batch
  state; a replayed epoch (restart) is skipped. Combined with the
  stream checkpoint this makes the append idempotent.
- only unquantized indexes stream (quantized impacts bake collection
  stats that appends would invalidate — the reference -Q pipeline is
  likewise a full-serialise operation).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atire_spark.build import (
    IndexTables,
    _docid_token_rows,
    _stage1,
    append_log_row,
    segments_from_stage1,
)

STREAM_BLOCK_BITS = 16  # pinned geometry across batches


def _state_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_stream_state.json")


def _read_state(index_dir: str) -> dict:
    p = _state_path(index_dir)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {"n_docs": 0, "last_epoch": -1}


def _write_state(index_dir: str, state: dict) -> None:
    p = _state_path(index_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, p)


INGEST_LOG_SCHEMA = (
    "epoch long, docs_added long, turns_seen long, postings_rows long,"
    " postings_bytes long, wall_sec double, ts timestamp"
)


def read_ingest_log(spark: SparkSession, index_dir: str) -> DataFrame:
    """The stream's lineage: one row per committed epoch."""
    return spark.read.parquet(f"{index_dir}/_ingest_log")


def append_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    epoch_id: int,
    stemmer: str | None = None,
    stop_before_indexing: str | None = None,
) -> int:
    """Index one micro-batch: the batch build's passes 1-3 → docids
    offset past the stream state → segment rows appended. Returns docs
    added.

    The same function body serves foreachBatch and direct incremental
    appends (the reference's multi-part + merge recipe run by hand).
    Every epoch, committed or empty, writes one ``_ingest_log`` row
    (the checkpointed build's ``_build_log`` counterpart; here the
    partition of work IS the epoch) and releases every frame it
    persisted.
    """
    import time as _time

    t0 = _time.monotonic()
    state = _read_state(index_dir)
    if epoch_id <= state["last_epoch"]:
        return 0  # replayed epoch after restart: already committed
    if state.get("stemmer", stemmer or "") != (stemmer or ""):
        raise ValueError(
            "stream index was started with a different stemmer "
            "(~stemmer mismatch)"
        )
    base = int(state["n_docs"])

    rows = nbytes = 0
    # the side-written token arrays are read by every write below and
    # by nothing after them
    with tempfile.TemporaryDirectory(
        prefix="atire_stream_stage_", ignore_cleanup_errors=True
    ) as stage_dir:
        docs, docmap, n_new, _coll_len, n_turns, key_parts = _docid_token_rows(
            spark, batch, stage_dir, stemmer, stop_before_indexing
        )
        registry: list = [key_parts]
        try:
            if n_new:
                # this batch's docids continue past everything already
                # indexed
                docid = (F.col("docid") + base).alias("docid")
                postings, term_stats = segments_from_stage1(
                    _stage1(
                        docs.select(docid, "doc_len", "terms", "occs"),
                        STREAM_BLOCK_BITS,
                    ),
                    1,
                    registry=registry,
                )
                seg_cols = [c for c in postings.columns if c not in ("df", "cf")]
                postings.select(*seg_cols).write.mode("append").parquet(
                    f"{index_dir}/segments"
                )
                term_stats.write.mode("append").parquet(f"{index_dir}/term_stats")
                docmap.select(docid, "conv_id", "turn_idx", "doc_len").write.mode(
                    "append"
                ).parquet(f"{index_dir}/docmap")
                # per-epoch metrics over the persisted segments (one extra
                # agg job, no re-tokenize): segment rows emitted +
                # compressed posting bytes
                m = postings.agg(
                    F.count("*").alias("rows"),
                    F.sum(F.length("postings")).alias("bytes"),
                ).collect()[0]
                rows, nbytes = int(m["rows"]), int(m["bytes"] or 0)
        finally:
            for df_ in registry:
                df_.unpersist()
    _write_state(
        index_dir,
        {
            "n_docs": base + n_new,
            "last_epoch": int(epoch_id),
            "stemmer": stemmer or "",
        },
    )
    append_log_row(
        spark,
        f"{index_dir}/_ingest_log",
        INGEST_LOG_SCHEMA,
        {
            "epoch": int(epoch_id),
            "docs_added": int(n_new),
            "turns_seen": int(n_turns),
            "postings_rows": rows,
            "postings_bytes": nbytes,
            "wall_sec": round(_time.monotonic() - t0, 3),
        },
    )
    return n_new


def stream_build(
    spark: SparkSession,
    transcripts_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    stemmer: str | None = None,
    stop_before_indexing: str | None = None,
    trigger_available_now: bool = True,
):
    """readStream(transcripts) → incremental index under ``index_dir``.

    ``trigger_available_now=True`` drains everything currently
    available then stops (the batch-catchup mode); pass False for a
    continuously-running micro-batch stream.
    """
    os.makedirs(index_dir, exist_ok=True)

    def process(batch: DataFrame, epoch_id: int) -> None:
        append_batch(
            spark,
            batch,
            index_dir,
            epoch_id,
            stemmer=stemmer,
            stop_before_indexing=stop_before_indexing,
        )

    writer = (
        transcripts_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_stream_index(
    spark: SparkSession, index_dir: str, out_dir: str
) -> None:
    """Compact a streamed index into the batch layout.

    Continuous appends accumulate one small segment/term-stats/docmap
    file set per epoch; scans stay correct (the query side unions a
    term's segments) but pay a per-file cost and lose file-level
    min/max pruning because each epoch's file spans the whole term
    range. Compaction is the LSM/Iceberg-maintenance step: aggregate
    the term-stat partials, inline global df/cf, and rewrite postings
    RANGE-clustered by (term, seg_group) — i.e. exactly
    ``write_index(load_stream_index(...))``. Docids, scores, and ranks
    are unchanged (the reference analogue is atire_merge compacting
    per-part indexes, README.md:78-93); the output is a normal batch
    index that ``load_index`` serves, and ingestion can continue into
    the original directory meanwhile (reads here are snapshot-scoped).
    """
    from atire_spark.build import write_index

    write_index(load_stream_index(spark, index_dir), out_dir)


def load_stream_index(spark: SparkSession, index_dir: str) -> IndexTables:
    """Open the streamed index: global term stats aggregate the
    per-batch partials (a metadata-sized table), segments join them on
    term — old segments are never rewritten by an append."""
    segments = spark.read.parquet(f"{index_dir}/segments")
    term_stats = (
        spark.read.parquet(f"{index_dir}/term_stats")
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    docmap = spark.read.parquet(f"{index_dir}/docmap")
    stats = docmap.agg(
        F.count("*").alias("documents"),
        F.sum("doc_len").alias("collection_len"),
        (F.sum("doc_len") / F.count("*")).alias("mean_doc_len"),
    ).crossJoin(term_stats.agg(F.count("*").alias("unique_terms"))).select(
        "*",
        F.lit(0).alias("quantized"),
        F.lit(0).alias("quant_bits"),
        F.lit(0.0).alias("quant_min"),
        F.lit(0.0).alias("quant_max"),
        F.lit(_read_state(index_dir).get("stemmer", "")).alias("stemmer"),
    )
    return IndexTables(
        docmap=docmap,
        postings=segments.join(term_stats, "term"),
        stats=stats,
    )
