"""Resumable, checkpointed index build with per-partition lineage.

north_star requirement: "resumable from per-partition checkpoints with
lineage and metrics (turns parsed, postings emitted, bytes compressed
per partition)". The reference's analogue is its multi-part recipe:
index N parts separately, then merge (reference README.md:78-93) — a
crashed part is simply re-run. Here:

- phase ``tokenize``: transcripts are processed in ``n_chunks``
  deterministic conv_id-hash chunks; each chunk writes its tokenized
  parquet and a _build_log row (turns_parsed). A re-run skips chunks
  already logged ``ok`` — idempotent because chunk membership is a pure
  function of conv_id.
- phase ``docids``: global docid assignment over the union of tokenized
  chunks (stable (conv_id, turn_idx) order ⇒ independent of chunking).
- phase ``postings``: term-hash chunks, each writing its segment rows +
  a log row (postings_emitted, bytes_compressed).
- phase ``finalize``: stats table.

The _build_log is itself the checkpoint state: append-only parquet,
one row per (phase, chunk) with status/metrics/timestamps. Workdir
layout::

    workdir/tokenized/chunk=K/   workdir/docs/   workdir/postings/chunk=K/
    workdir/docmap/  workdir/stats/  workdir/_build_log/
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atire_spark.build import (
    IndexTables,
    _stage1,
    assign_docids,
    quant_minmax_from_stage1,
    quantized_segments_from_stage1,
    segments_from_stage1,
    tokenize_stage,
)

LOG_SCHEMA = (
    "phase string, chunk int, status string, turns_parsed long, "
    "postings_emitted long, bytes_compressed long, wall_sec double, "
    "run_id string, ts timestamp"
)


def _read_log(spark: SparkSession, workdir: str) -> DataFrame | None:
    try:
        return spark.read.parquet(f"{workdir}/_build_log")
    except Exception:
        return None


def _done(log: DataFrame | None, phase: str) -> set[int]:
    if log is None:
        return set()
    rows = log.filter(
        (F.col("phase") == phase) & (F.col("status") == "ok")
    ).select("chunk")
    return {int(r["chunk"]) for r in rows.collect()}


def _append_log(spark: SparkSession, workdir: str, row: dict) -> None:
    row = {
        "turns_parsed": None,
        "postings_emitted": None,
        "bytes_compressed": None,
        **row,
        "ts": datetime.now(timezone.utc).replace(tzinfo=None),
    }
    spark.createDataFrame([row], LOG_SCHEMA).coalesce(1).write.mode("append").parquet(
        f"{workdir}/_build_log"
    )


def build_index_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str,
    n_chunks: int = 8,
    n_term_chunks: int = 8,
    block_bits: int = 20,
    blocks_per_seg: int = 4096,
    quantize_bits: int | str | None = None,
) -> IndexTables:
    """Build (or resume building) the index under ``workdir``.

    Re-running after a crash skips every (phase, chunk) already logged
    ``ok`` and produces byte-identical postings — chunk membership and
    docid assignment are pure functions of the input.

    ``quantize_bits`` (int or ``"auto"``) adds the -Q pipeline
    (memory_index.c:1541-1589) as an extra resumable phase: the
    collection min/max rsv is computed one term chunk at a time
    (safely decomposable — a term chunk holds every posting of its
    terms, so its global df stays in-chunk) and persisted, then each
    postings chunk quantizes against the same fixed bounds, so a
    resumed build quantizes identically to an uninterrupted one.
    """
    run_id = uuid.uuid4().hex[:12]

    # ---- build-parameter pin: a resume MUST use the original flags.
    # The log records only (phase, chunk, status); without this pin a
    # crashed unquantized run resumed with -Q would silently mix
    # tf-impact and quantized-impact postings chunks under a stats row
    # claiming the whole index is quantized.
    import json as _json
    import os as _os

    params = {
        "n_chunks": n_chunks,
        "n_term_chunks": n_term_chunks,
        "block_bits": block_bits,
        "blocks_per_seg": blocks_per_seg,
        "quantize_bits": quantize_bits,
    }
    meta_path = f"{workdir}/_build_params.json"
    if _os.path.exists(meta_path):
        with open(meta_path) as fh:
            recorded = _json.load(fh)
        if recorded != params:
            diffs = {
                k: (recorded.get(k), params[k])
                for k in params
                if recorded.get(k) != params[k]
            }
            raise ValueError(
                f"resume with different build parameters {diffs} "
                f"(recorded vs requested) — finish or delete {workdir}"
            )
    else:
        _os.makedirs(workdir, exist_ok=True)
        with open(meta_path, "w") as fh:
            _json.dump(params, fh)

    log = _read_log(spark, workdir)

    # ---- phase: tokenize (chunked by conv_id hash) --------------------
    done = _done(log, "tokenize")
    for chunk in range(n_chunks):
        if chunk in done:
            continue
        t0 = time.monotonic()
        part = transcripts.filter(
            F.pmod(F.xxhash64("conv_id"), F.lit(n_chunks)) == chunk
        )
        tok = tokenize_stage(part)
        tok.write.mode("overwrite").parquet(f"{workdir}/tokenized/chunk={chunk}")
        turns = spark.read.parquet(f"{workdir}/tokenized/chunk={chunk}").count()
        _append_log(
            spark,
            workdir,
            dict(
                phase="tokenize",
                chunk=chunk,
                status="ok",
                turns_parsed=turns,
                wall_sec=time.monotonic() - t0,
                run_id=run_id,
            ),
        )

    # ---- phase: docids -------------------------------------------------
    log = _read_log(spark, workdir)
    if 0 not in _done(log, "docids"):
        t0 = time.monotonic()
        tokenized = spark.read.parquet(f"{workdir}/tokenized")
        docs = assign_docids(tokenized)
        docs.write.mode("overwrite").parquet(f"{workdir}/docs")
        spark.read.parquet(f"{workdir}/docs").select(
            "docid", "conv_id", "turn_idx", "doc_len"
        ).write.mode("overwrite").parquet(f"{workdir}/docmap")
        _append_log(
            spark,
            workdir,
            dict(
                phase="docids",
                chunk=0,
                status="ok",
                wall_sec=time.monotonic() - t0,
                run_id=run_id,
            ),
        )

    docs = spark.read.parquet(f"{workdir}/docs")

    def chunk_stage1(chunk: int) -> DataFrame:
        """Stage-1 rows of the terms in one term-hash chunk."""
        return _stage1(docs, block_bits).filter(
            F.pmod(F.xxhash64("term"), F.lit(n_term_chunks)) == chunk
        )

    # ---- phase: quantminmax (only for -Q; chunked by term hash) --------
    n_docs = mean_len = 0
    if quantize_bits is not None:
        row = (
            spark.read.parquet(f"{workdir}/docmap")
            .agg(F.count("*").alias("n"), F.sum("doc_len").alias("s"))
            .collect()[0]
        )
        n_docs, coll = int(row["n"]), int(row["s"] or 0)
        mean_len = coll / n_docs if n_docs else 0.0
        if quantize_bits == "auto":
            # memory_index.c:1553-1556 (Crane/Trotman/O'Keefe CIKM'13)
            import math

            quantize_bits = int(5.4 + 5.4e-4 * math.sqrt(n_docs))
        log = _read_log(spark, workdir)
        done = _done(log, "quantminmax")
        for chunk in range(n_term_chunks):
            if chunk in done:
                continue
            t0 = time.monotonic()
            mm = quant_minmax_from_stage1(chunk_stage1(chunk), n_docs, mean_len)
            spark.createDataFrame(
                [mm] if mm is not None else [], "mn double, mx double"
            ).write.mode("overwrite").parquet(f"{workdir}/quant/chunk={chunk}")
            _append_log(
                spark,
                workdir,
                dict(
                    phase="quantminmax",
                    chunk=chunk,
                    status="ok",
                    wall_sec=time.monotonic() - t0,
                    run_id=run_id,
                ),
            )
        mrow = (
            spark.read.parquet(f"{workdir}/quant")
            .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
            .collect()[0]
        )
        qmin = float(mrow["mn"]) if mrow["mn"] is not None else 0.0
        qmax = float(mrow["mx"]) if mrow["mx"] is not None else 0.0

    # ---- phase: postings (chunked by term hash) ------------------------
    log = _read_log(spark, workdir)
    done = _done(log, "postings")
    for chunk in range(n_term_chunks):
        if chunk in done:
            continue
        t0 = time.monotonic()
        if quantize_bits is not None:
            postings, _ts, _mn, _mx = quantized_segments_from_stage1(
                chunk_stage1(chunk),
                n_docs,
                mean_len,
                blocks_per_seg,
                quantize_bits,
                qminmax=(qmin, qmax),
            )
        else:
            postings, _ = segments_from_stage1(chunk_stage1(chunk), blocks_per_seg)
        postings.write.mode("overwrite").parquet(f"{workdir}/postings/chunk={chunk}")
        m = (
            spark.read.parquet(f"{workdir}/postings/chunk={chunk}")
            .agg(
                F.sum("n_postings").alias("p"),
                F.sum(F.length("postings") + F.length("doc_lens")).alias("b"),
            )
            .collect()[0]
        )
        _append_log(
            spark,
            workdir,
            dict(
                phase="postings",
                chunk=chunk,
                status="ok",
                postings_emitted=int(m["p"] or 0),
                bytes_compressed=int(m["b"] or 0),
                wall_sec=time.monotonic() - t0,
                run_id=run_id,
            ),
        )

    # ---- phase: finalize (stats) ---------------------------------------
    log = _read_log(spark, workdir)
    if 0 not in _done(log, "finalize"):
        t0 = time.monotonic()
        postings_all = spark.read.parquet(f"{workdir}/postings")
        docmap = spark.read.parquet(f"{workdir}/docmap")
        stats = (
            docmap.agg(
                F.count("*").alias("documents"),
                F.sum("doc_len").alias("collection_len"),
                (F.sum("doc_len") / F.count("*")).alias("mean_doc_len"),
            )
            .crossJoin(
                postings_all.select("term").distinct().agg(
                    F.count("*").alias("unique_terms")
                )
            )
            .select(
                "*",
                F.lit(1 if quantize_bits is not None else 0).alias(
                    "quantized"
                ),
                F.lit(int(quantize_bits or 0)).alias("quant_bits"),
                F.lit(qmin if quantize_bits is not None else 0.0).alias(
                    "quant_min"
                ),
                F.lit(qmax if quantize_bits is not None else 0.0).alias(
                    "quant_max"
                ),
                F.lit("").alias("stemmer"),
                F.lit("vbyte").alias("codec"),
            )
        )
        stats.write.mode("overwrite").parquet(f"{workdir}/stats")
        _append_log(
            spark,
            workdir,
            dict(
                phase="finalize",
                chunk=0,
                status="ok",
                wall_sec=time.monotonic() - t0,
                run_id=run_id,
            ),
        )

    return IndexTables(
        docmap=spark.read.parquet(f"{workdir}/docmap"),
        postings=spark.read.parquet(f"{workdir}/postings"),
        stats=spark.read.parquet(f"{workdir}/stats"),
        build_log=spark.read.parquet(f"{workdir}/_build_log"),
    )
