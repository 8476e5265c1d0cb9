"""Distributed index build: transcripts → docmap + postings + stats.

Spark-first re-expression of the reference's indexing pipeline
(/root/reference/atire/index.c:286-616, source/memory_index.c):

reference                                   → this engine
------------------------------------------- ----------------------------
8 indexing threads parse docs in parallel    input partitions; tokenize
(directory_iterator_preindex.c:56-80)        in mapInPandas (Arrow)
per-doc 256-bucket hash of term→tf           one np.unique over (row,
(memory_index_one.c)                         term) codes per batch
serial docno assignment in doclist order     range-bucket sort of the
(atire/index.c:507-525)                      narrow (conv_id, turn_idx)
                                             keys + per-bucket offsets
                                             (_docids_from_keys, every
                                             build path)
global hash-of-trees posting accumulation    per-(term, docid-block)
(memory_index.c:126-308)                     arrays, one Arrow pass per
                                             batch (_stage1)
atire_merge per-term concat with docid       second groupBy(term,
offsets (atire_merge.c:563-930)              seg_group) merge in Arrow
impact ordering + vbyte serialisation        impact_order kernel per
(memory_index.c:476-580,804-1042)            segment

Skew: the docid-block key IS the salt — a stop-term's postings are
built in bounded per-block pieces (order-preserving, so the merge is a
concatenation, exactly the reference's own multi-part recipe,
reference README.md:78-93). Terms whose lists exceed one segment group
stay split as multiple segment rows ("stop-term splitting"); the query
side unions segments, which is score-neutral because BM25 needs only
global df (stored per row) and per-posting (tf, doc_len).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atire_spark.kernels.quantize import DEFAULT_QUANT_BITS, quantize_rsv, raw_rsv
from atire_spark.kernels.tokenizer import tokenize_flat

TF_CAP = 255  # memory_index_hash_node.h:140-143

TOKENIZED_SCHEMA = (
    "conv_id string, turn_idx int, doc_len long, terms array<string>, "
    "occs array<int>"
)
DOCMAP_SCHEMA = "docid long, conv_id string, turn_idx int, doc_len long"
POSTINGS_SCHEMA = (
    "term string, seg_group long, seg_df long, seg_cf long, first_docid long, "
    "last_docid long, "
    "max_impact int, impacts array<int>, doc_counts array<int>, offsets array<long>, "
    "byte_offsets array<long>, postings binary, doc_lens binary, n_postings long"
)


@dataclass
class IndexTables:
    docmap: DataFrame
    postings: DataFrame  # + global df, cf joined on
    stats: DataFrame  # single row
    build_log: DataFrame | None = None
    cached: list = field(default_factory=list)  # persisted intermediates
    puurula: DataFrame | None = None  # -Ilmp per-doc length vectors
    # staged tokenized rows with docids (docid, doc_len, terms, occs) —
    # present on a fresh build (reads the staging parquet; the token
    # arrays already reflect the build's stem/stop flags) so secondary
    # indexes (TopSig signatures) never re-tokenize the corpus; absent
    # after load_index (staging is not part of the written index)
    tokenized: DataFrame | None = None

    def unpersist(self) -> None:
        """Release the build's persisted intermediates (call after the
        tables have been materialized, e.g. by :func:`write_index`)."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


# ----------------------------------------------------------- tokenize
def tokenize_stage(
    transcripts: DataFrame,
    stemmer: str | None = None,
    stop_before_indexing: str | None = None,
    cjk_bigrams: bool = False,
    cjk_segmenter=None,
) -> DataFrame:
    """Per-turn tokenization + per-doc term counts, one Arrow pass.

    ``cjk_bigrams`` switches CJK runs from the parser's unsegmented
    default (one char per token, parser.c:251-258) to
    BIGRAM_SEGMENTATION (parser.c:259-283); ``cjk_segmenter`` is the
    ONFLY plugin slot (a ``str → list[str]`` callable over whole CJK
    runs — :func:`atire_spark.kernels.tokenizer.dict_segmenter` builds
    the dictionary-driven one).

    Output: one row per turn with (terms[], occs[]) already aggregated
    per document (the reference's memory_index_one per-doc hash) and
    doc_len = surviving WORD+NUMBER token count. ``occs`` are the
    uncapped occurrence counts; stage 1 (:func:`_stage1`) derives the
    stored, saturated tf from them.

    ``stemmer`` (any kernels.stem.STEMMERS name | None) applies index-side stemming
    (index_document.c:103-111: words > 3 chars only, numbers raw) to
    the batch *vocabulary* — one Python stem call per distinct term
    per batch, then a vectorized code remap; tf/cf then count stems.
    doc_len counts pre-stem tokens (terms_in_document is incremented
    before stemming, index_document.c:85-111).

    ``stop_before_indexing`` ("ncbi" | "puurula") is the reference's
    PRUNE_STOPWORDS_BEFORE_INDEXING mode (index_document.c:100-101):
    stopped tokens get no postings but STILL count toward the document
    length (terms_in_document++ precedes the stop check), and the stop
    check runs on the normalized token BEFORE stemming.
    """
    stops = None
    if stop_before_indexing is not None:
        from atire_spark.kernels.stopwords import stop_set

        stops = stop_set(stop_before_indexing)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            row_idx, flat, lens = tokenize_flat(
                pdf["text"],
                cjk_bigrams=cjk_bigrams,
                cjk_segmenter=cjk_segmenter,
            )
            if stops is not None and flat.size:
                # length already counted; drop stops from the posting
                # stream only (vectorized membership on the batch)
                keep = ~pd.Series(flat).isin(stops).to_numpy()
                row_idx, flat = row_idx[keep], flat[keep]
            terms: list = [[] for _ in range(n)]
            occs: list = [[] for _ in range(n)]
            if flat.size:
                rows, terms_flat, occ = _doc_term_counts(row_idx, flat, stemmer)
                bounds = np.flatnonzero(np.diff(rows)) + 1
                present = rows[np.concatenate(([0], bounds))]
                for r, t, o in zip(
                    present,
                    np.split(terms_flat, bounds),
                    np.split(occ.astype(np.int32), bounds),
                ):
                    terms[r], occs[r] = t, o
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "doc_len": lens,
                    "terms": terms,
                    "occs": occs,
                }
            )

    # spread the parse across every core: a small input (one parquet
    # file, a driver-created frame) often arrives with few partitions
    sc = transcripts.sparkSession.sparkContext
    if transcripts.rdd.getNumPartitions() < sc.defaultParallelism:
        transcripts = transcripts.repartition(sc.defaultParallelism)
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        fn, schema=TOKENIZED_SCHEMA
    )


# ------------------------------------------ single-tokenize build
KEYS_SCHEMA = "conv_id string, turn_idx int, doc_len long"
# docmaps up to this many rows MAY broadcast in the docid join
# (pass 3); larger corpora fall back to a shuffle join — the single
# payload shuffle any globally-keyed design pays, while every corpus
# under the threshold
# (including each PART of a split+merge build, the reference's own
# recipe for 100 GB+ collections, reference README.md:78-86) skips the
# payload shuffle entirely. The HARD cap below is gated by the actual
# driver heap at build time (:func:`docmap_broadcast_max`): the driver
# must collect + serialize the whole (conv_id, turn_idx, docid) table,
# so a fixed 20M-row constant would OOM a default-memory driver long
# before the cap.
BROADCAST_DOCMAP_MAX = 20_000_000
# conservative serialized row estimate for the broadcast docmap:
# ~24 B conv_id string payload + 2 longs + JVM object/row overhead
_DOCMAP_ROW_BYTES = 96
# never let the broadcast table claim more than this share of the
# driver heap (the same table also exists row-collected during the
# broadcast build, so the true peak is a small multiple of the
# serialized size)
_DOCMAP_HEAP_FRACTION = 0.05


def _parse_jvm_mem(s: str) -> int:
    """``spark.driver.memory``-style size string → bytes (JVM -Xmx
    suffixes: k/m/g/t, case-insensitive; bare number = bytes)."""
    s = s.strip().lower()
    mult = 1
    for suffix, m in (("k", 2**10), ("m", 2**20), ("g", 2**30), ("t", 2**40)):
        if s.endswith(suffix):
            mult, s = m, s[:-1]
            break
    return int(float(s) * mult)


def docmap_broadcast_max(spark: SparkSession) -> int:
    """Row threshold for broadcasting the docmap in the pass-3 docid
    join: at most ``BROADCAST_DOCMAP_MAX`` rows AND at most
    ``_DOCMAP_HEAP_FRACTION`` of the configured driver heap at
    ``_DOCMAP_ROW_BYTES``/row (48g driver → the full 20M cap; a 2g
    default driver → ~1.1M rows, well clear of OOM). Above the
    threshold pass 3 uses a shuffle join (tested path)."""
    try:
        mem = _parse_jvm_mem(spark.conf.get("spark.driver.memory", "2g"))
    except Exception:
        mem = 2 * 2**30
    return int(
        min(
            BROADCAST_DOCMAP_MAX,
            mem * _DOCMAP_HEAP_FRACTION // _DOCMAP_ROW_BYTES,
        )
    )


def _doc_term_counts(
    row_idx: np.ndarray, flat: np.ndarray, stemmer: str | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flat token stream → per-doc (row, term, occ) triples, vectorized
    (the reference's per-doc hash, memory_index_one.c, without the
    hash). Rows come back sorted ascending; ``occ`` is the uncapped
    occurrence count (tf is min(occ, TF_CAP), derived downstream)."""
    codes, uniq = pd.factorize(flat)
    if stemmer is not None:
        from atire_spark.kernels.stem import stem_unique

        stemmed = stem_unique(np.asarray(uniq, dtype=object), stemmer)
        codes2, uniq = pd.factorize(stemmed)
        codes = codes2[codes]
    uniq = np.asarray(uniq, dtype=object)
    nu = len(uniq)
    key = row_idx * nu + codes
    uk, occ = np.unique(key, return_counts=True)
    return uk // nu, uniq[uk % nu], occ


def _tokenize_sidewrite(
    transcripts: DataFrame,
    tokens_dir: str,
    stemmer: str | None = None,
    stop_before_indexing: str | None = None,
    cjk_bigrams: bool = False,
    cjk_segmenter=None,
) -> DataFrame:
    """Pass 1 of the single-tokenize build: tokenize each turn ONCE,
    side-write the per-doc token arrays straight to parquet from the
    worker (pyarrow, no JVM round-trip of the arrays), and emit only
    the NARROW key rows (conv_id, turn_idx, doc_len) back to Spark.

    Rationale: the token arrays are the build's dominant payload, and
    docid assignment only needs the KEYS. A sort of the whole tokenized
    rows would move the arrays through Arrow→JVM, a shuffle, a JVM sort
    and a staged write before stage 1 could read them back; this pass
    parts the payload from the keys instead: the arrays go to
    ``tokens_dir`` once (written as Arrow list arrays directly off the
    flat token stream — no per-row Python lists), and the key rows
    (tiny) drive the global docid sort (:func:`_docids_from_keys`).

    Semantics are identical to :func:`tokenize_stage` (stemmer /
    stop_before_indexing / CJK flags included): doc_len counts
    surviving WORD+NUMBER tokens before stopping/stemming, stopped
    tokens get no postings, stems count via the batch vocabulary remap.
    Rows with doc_len == 0 are side-written nowhere (they never get a
    docid) but still emit a key row so the NULL- and duplicate-key
    checks of pass 2 see EVERY input row, not just the indexable ones.

    Each task writes ``part-<partition>.parquet`` via a hidden
    temporary name + rename, so a retried task simply overwrites its
    file and Spark's reader ignores stragglers from failed attempts.
    ``tokens_dir`` must be on storage every executor can reach (on a
    cluster: the same shared filesystem the index itself targets).
    """
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    stops = None
    if stop_before_indexing is not None:
        from atire_spark.kernels.stopwords import stop_set

        stops = stop_set(stop_before_indexing)

    arrow_schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("doc_len", pa.int64()),
            ("terms", pa.list_(pa.string())),
            ("occs", pa.list_(pa.int32())),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        final = f"{tokens_dir}/part-{pid:05d}.parquet"
        tmp = f"{tokens_dir}/.part-{pid:05d}.{uuid.uuid4().hex}.tmp"
        writer = None
        try:
            for pdf in batches:
                pdf = pdf.reset_index(drop=True)
                n = len(pdf)
                if n == 0:
                    continue
                conv = pdf["conv_id"].to_numpy()
                turn = pdf["turn_idx"].to_numpy()
                row_idx, flat, lens = tokenize_flat(
                    pdf["text"],
                    cjk_bigrams=cjk_bigrams,
                    cjk_segmenter=cjk_segmenter,
                )
                if stops is not None and flat.size:
                    keep = ~pd.Series(flat).isin(stops).to_numpy()
                    row_idx, flat = row_idx[keep], flat[keep]
                kept = lens > 0
                if kept.any():
                    if flat.size:
                        rows, terms_flat, occ = _doc_term_counts(
                            row_idx, flat, stemmer
                        )
                        per_row = np.bincount(rows, minlength=n)
                    else:
                        terms_flat = np.empty(0, dtype=object)
                        occ = np.empty(0, dtype=np.int64)
                        per_row = np.zeros(n, dtype=np.int64)
                    offs = np.zeros(int(kept.sum()) + 1, dtype=np.int64)
                    np.cumsum(per_row[kept], out=offs[1:])
                    offs32 = pa.array(offs, type=pa.int32())
                    table = pa.Table.from_arrays(
                        [
                            pa.array(conv[kept], type=pa.string()),
                            # a NULL turn_idx arrives as NaN: keep it
                            # null for pass 2's key check
                            pa.array(
                                turn[kept], type=pa.int32(), from_pandas=True
                            ),
                            pa.array(lens[kept], type=pa.int64()),
                            pa.ListArray.from_arrays(
                                offs32, pa.array(terms_flat, type=pa.string())
                            ),
                            pa.ListArray.from_arrays(
                                offs32,
                                pa.array(
                                    np.minimum(occ, np.iinfo(np.int32).max),
                                    type=pa.int32(),
                                ),
                            ),
                        ],
                        schema=arrow_schema,
                    )
                    if writer is None:
                        writer = pq.ParquetWriter(tmp, arrow_schema)
                    writer.write_table(table)
                yield pd.DataFrame(
                    {
                        "conv_id": pdf["conv_id"],
                        "turn_idx": pdf["turn_idx"],
                        "doc_len": lens,
                    }
                )
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            import os as _os

            _os.replace(tmp, final)

    sc = transcripts.sparkSession.sparkContext
    if transcripts.rdd.getNumPartitions() < sc.defaultParallelism:
        transcripts = transcripts.repartition(sc.defaultParallelism)
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        fn, schema=KEYS_SCHEMA
    )


def _key_bounds(
    keys: DataFrame, n_buckets: int, n_rows: int
) -> list[tuple[str, int]]:
    """Deterministic range-bucket bounds over the narrow key rows:
    a FIXED-seed sample (the input is deterministic, so any lineage
    recompute reproduces the same bounds — unlike repartitionByRange,
    whose per-execution sampling can shift partition boundaries
    between the offset-collect and a later recompute of the same
    frame, silently reassigning docids). NULL keys are left out of the
    sample; the bucket assignment rejects them, over every row."""
    if n_rows == 0:
        return []
    frac = min(1.0, (n_buckets * 128.0) / n_rows)
    rows = (
        keys.select("conv_id", "turn_idx")
        .dropna()
        .sample(fraction=frac, seed=13)
        .collect()
    )
    skeys = sorted((r["conv_id"], int(r["turn_idx"])) for r in rows)
    if not skeys:
        return []
    bounds: list[tuple[str, int]] = []
    for i in range(1, n_buckets):
        b = skeys[min(int(len(skeys) * i / n_buckets), len(skeys) - 1)]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def _docids_from_keys(
    keys: DataFrame, n_parts: int, n_rows: int
) -> tuple[DataFrame, DataFrame, int, int]:
    """Pass 2: global docid assignment over the NARROW key rows.

    Bucket ids are DATA-DERIVED (vectorized comparison against the
    fixed-seed sampled bounds), rows hash-shuffle on the bucket and
    sort within partitions — so counting, the exhaustive
    adjacent-duplicate check (equal keys always share a bucket, and
    the check runs on ALL rows including empty-tokenizing turns, so a
    key duplicated between an empty and a non-empty turn fails too)
    and the dense stamping of the doc_len > 0 survivors (empty docs
    never consume an id, reference atire/index.c:533-540) all key off
    the bucket id, never the physical partition id. Every stage is a
    pure deterministic function of the input, so a cache-miss
    recompute of the returned docmap reproduces identical docids.

    The one docid assigner: the batch build, the stream append and the
    checkpointed build all pass their key rows through it, so the
    bucket assignment is also where a NULL key fails, exhaustively —
    acceptance never depends on sampling.

    Returns (persisted narrow partitions, docmap rows, total docs,
    collection length). The caller keeps the narrow partitions
    persisted while the docmap is in use (registry) — the stamp is a
    cheap vectorized pass over them.
    """
    bnds = _key_bounds(keys, n_parts, n_rows)
    bkeys = [(str(c), int(t)) for c, t in bnds]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            conv = pdf["conv_id"].to_numpy()
            turn = pdf["turn_idx"].to_numpy()
            if pd.isna(conv).any() or pd.isna(turn).any():
                # a NULL key has no place in the stable (conv_id,
                # turn_idx) order docids derive from
                raise ValueError(
                    "transcripts key columns (conv_id, turn_idx) "
                    "contain NULLs; every turn needs a non-null key "
                    "for stable docid assignment"
                )
            bucket = np.zeros(len(pdf), dtype=np.int32)
            for c, t in bkeys:
                bucket += ((conv > c) | ((conv == c) & (turn >= t))).astype(
                    np.int32
                )
            pdf = pdf.copy()
            pdf.insert(0, "pid", bucket)
            yield pdf

    parts = (
        keys.mapInPandas(assign, schema="pid int, " + KEYS_SCHEMA)
        .repartition(n_parts, "pid")
        .sortWithinPartitions("pid", "conv_id", "turn_idx")
        .persist()
    )

    def count_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n: dict[int, int] = {}
        dl: dict[int, int] = {}
        prev: tuple | None = None  # (pid, conv, turn) across batches
        for pdf in batches:
            if not len(pdf):
                continue
            pid = pdf["pid"].to_numpy()
            conv = pdf["conv_id"].to_numpy()
            turn = pdf["turn_idx"].to_numpy()
            dup = (
                (pid[1:] == pid[:-1])
                & (conv[1:] == conv[:-1])
                & (turn[1:] == turn[:-1])
            )
            first = prev is not None and (
                (int(pid[0]), conv[0], turn[0]) == prev
            )
            if first or dup.any():
                i = 0 if first else int(np.flatnonzero(dup)[0]) + 1
                raise ValueError(
                    "duplicate transcripts key (conv_id="
                    f"{conv[i]!r}, turn_idx={turn[i]!r}): "
                    "(conv_id, turn_idx) must uniquely identify a "
                    "turn for stable docid assignment"
                )
            prev = (int(pid[-1]), conv[-1], turn[-1])
            lens = pdf["doc_len"].to_numpy(np.int64)
            live = lens > 0
            for b in np.unique(pid):
                m = pid == b
                n[int(b)] = n.get(int(b), 0) + int((m & live).sum())
                dl[int(b)] = dl.get(int(b), 0) + int(lens[m].sum())
        yield pd.DataFrame(
            {
                "pid": list(n),
                "cnt": [n[b] for b in n],
                "dl": [dl[b] for b in n],
            }
        )

    try:
        rows = parts.mapInPandas(
            count_fn, schema="pid int, cnt long, dl long"
        ).collect()
    except Exception:  # a NULL or duplicate key: release the partitions
        parts.unpersist()
        raise
    counts: dict[int, int] = {}
    coll_len = 0
    for r in rows:
        counts[int(r["pid"])] = counts.get(int(r["pid"]), 0) + int(r["cnt"])
        coll_len += int(r["dl"] or 0)
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen: dict[int, int] = {}
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            if not len(pdf):
                continue
            b = pdf["pid"].to_numpy()
            keep = pdf["doc_len"].to_numpy(np.int64) > 0
            idx = np.zeros(len(pdf), dtype=np.int64)
            change = np.flatnonzero(np.diff(b)) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(b)]))
            for s, e in zip(starts, ends):
                base = seen.get(int(b[s]), offsets.get(int(b[s]), 0))
                kk = keep[s:e]
                nk = int(kk.sum())
                idx[s:e][kk] = base + np.arange(nk, dtype=np.int64)
                seen[int(b[s])] = base + nk
            out = pdf.loc[keep].copy()
            out.insert(0, "docid", idx[keep])
            yield out.drop(columns=["pid"])

    docmap = parts.mapInPandas(stamp, schema="docid long, " + KEYS_SCHEMA)
    return parts, docmap, acc, coll_len


def _join_docids(tokens: DataFrame, docmap: DataFrame, n_docs: int) -> DataFrame:
    """Pass 3: the ``tokens ⋈ docmap`` left join on (conv_id,
    turn_idx). The docmap broadcasts up to :func:`docmap_broadcast_max`
    rows (no payload shuffle at all); above it a plain shuffle join is
    the one payload shuffle any globally-keyed design pays. A token row
    without a docmap row keeps a null docid, and :func:`_stage1` raises
    on it."""
    dm_key = docmap.select("conv_id", "turn_idx", "docid")
    if n_docs <= docmap_broadcast_max(tokens.sparkSession):
        dm_key = F.broadcast(dm_key)
    return tokens.join(dm_key, ["conv_id", "turn_idx"], "left")


def _docid_token_rows(
    spark: SparkSession,
    transcripts: DataFrame,
    stage_dir: str,
    stemmer: str | None = None,
    stop_before_indexing: str | None = None,
    cjk_bigrams: bool = False,
    cjk_segmenter=None,
) -> tuple[DataFrame, DataFrame, int, int, int, DataFrame]:
    """Passes 1-3 of a build from raw transcripts, shared by
    :func:`build_index` and :func:`atire_spark.streaming.append_batch`:

    1. tokenize ONCE; the token arrays go straight to
       ``stage_dir/tokens`` from the workers (:func:`_tokenize_sidewrite`)
       and only the narrow key rows come back, counted once;
    2. global docid assignment over those keys
       (:func:`_docids_from_keys`);
    3. the docids joined back onto the token arrays
       (:func:`_join_docids`).

    Returns (docid-carrying rows ``docid, doc_len, terms, occs`` for
    :func:`_stage1`, docmap, documents, collection length, input rows,
    key partitions). The docmap is a cheap stamp over the persisted key
    partitions, recomputed by each consumer; the caller unpersists the
    partitions once the rows and the docmap are written."""
    import os

    from pyspark import StorageLevel

    tokens_dir = f"{stage_dir}/tokens"
    os.makedirs(tokens_dir, exist_ok=True)
    # a reused stage_dir from a PRIOR build may hold more part files
    # than this run's input has partitions; spark.read.parquet would
    # silently mix the stale parts in (duplicate postings the key
    # check cannot see). The token side-write is per-build output, not
    # a resume checkpoint (that is checkpoint.py's workdir), so clear
    # the directory first.
    for stale in os.listdir(tokens_dir):
        if stale.startswith(("part-", ".part-")):
            os.remove(f"{tokens_dir}/{stale}")
    # materialize pass 1 exactly once into the block cache (three
    # scalar columns — tiny next to the side-written token payload):
    # the bounds sample and the key shuffle read the cache instead of
    # re-running the tokenizer
    keys = _tokenize_sidewrite(
        transcripts,
        tokens_dir,
        stemmer=stemmer,
        stop_before_indexing=stop_before_indexing,
        cjk_bigrams=cjk_bigrams,
        cjk_segmenter=cjk_segmenter,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_keys = keys.count()
        key_parts, docmap, n_docs, coll_len = _docids_from_keys(
            keys, max(spark.sparkContext.defaultParallelism, 4), n_keys
        )
    finally:
        keys.unpersist()  # the sorted key partitions hold the rows now
    if n_docs == 0:
        tokens = spark.createDataFrame([], TOKENIZED_SCHEMA)
    else:
        tokens = spark.read.parquet(tokens_dir)
    rows = _join_docids(tokens, docmap, n_docs).select(
        "docid", "doc_len", "terms", "occs"
    )
    return rows, docmap, n_docs, coll_len, n_keys, key_parts


# ---------------------------------------------------------- postings build
STAGE1_SCHEMA = (
    "term string, block long, docids array<long>, tfs array<int>, "
    "lens array<long>, df_b long, cf_b long"
)


def _stage1(docs: DataFrame, block_bits: int) -> DataFrame:
    """(docid, doc_len, terms[], occs[]) rows → per-(term, docid-block)
    posting-array rows: **partition-local posting-list construction**
    (the reference analogue is one ``memory_index`` per indexing part,
    README.md:78-86). The one stage-1 kernel: the batch build, the
    stream append and the checkpointed build all feed it.

    One ``mapInArrow`` pass per batch: the token list columns are read
    through their offset buffers and the vocabulary is factorized by
    Arrow's dictionary encode, so neither side builds per-row Python
    lists. The term-partitioned encode shuffle then moves compact array
    rows, not one row per posting; a stop-term arrives as many bounded
    rows (≤ one block each), the salt that keeps reducers balanced.

    Docids arrive on the rows (the pass-3 docmap join) in any order:
    postings are docid-sorted within each (term, block) here, and the
    segment merge (:func:`kernels.segment.build_segments_flat`)
    restores global docid order per quantum, so no batch or partition
    has to cover a contiguous docid range. A null ``docid`` (a token
    row the docmap join found no row for) raises instead of silently
    losing that document's postings."""

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            docid = batch.column("docid")
            if docid.null_count:
                raise ValueError(
                    "token rows contain keys absent from the docmap — "
                    "staging is inconsistent"
                )
            counts = pc.list_value_length(batch.column("terms")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            flat_terms = batch.column("terms").flatten()
            if len(flat_terms) == 0:
                continue
            occ = (
                batch.column("occs")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            de = flat_terms.dictionary_encode()
            codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            docids_flat = np.repeat(
                docid.to_numpy(zero_copy_only=False).astype(np.int64), counts
            )
            lens_flat = np.repeat(
                batch.column("doc_len")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64),
                counts,
            )
            block = docids_flat >> block_bits
            nb = int(block.max()) + 1
            key = codes * nb + block
            order = np.lexsort((docids_flat, key))
            k_s = key[order]
            starts = np.concatenate(([0], np.flatnonzero(np.diff(k_s)) + 1))
            offs = np.concatenate((starts, [k_s.size]))
            o_s = occ[order]
            # stored tf saturates (memory_index_hash_node.h:140-143);
            # collection frequency keeps counting every occurrence
            tf_s = np.minimum(o_s, TF_CAP).astype(np.int32)
            off32 = pa.array(offs, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    de.dictionary.take(pa.array(k_s[starts] // nb)),
                    pa.array(k_s[starts] % nb, type=pa.int64()),
                    pa.ListArray.from_arrays(off32, pa.array(docids_flat[order])),
                    pa.ListArray.from_arrays(off32, pa.array(tf_s)),
                    pa.ListArray.from_arrays(off32, pa.array(lens_flat[order])),
                    pa.array(np.diff(offs), type=pa.int64()),
                    pa.array(np.add.reduceat(o_s, starts), type=pa.int64()),
                ],
                names=["term", "block", "docids", "tfs", "lens", "df_b", "cf_b"],
            )

    return docs.select("docid", "doc_len", "terms", "occs").mapInArrow(
        fn, schema=STAGE1_SCHEMA
    )


# target posting-pair count per encode-shuffle partition: large enough
# that per-task overhead amortizes, small enough that a partition's
# decoded arrays stay well inside task memory (3M pairs ≈ 60 MB of
# int64/int32 streams); measured best at both 17.6M pairs / 32 cores
# (→ 1× cores) and 88M pairs / 8 cores (→ 4× cores)
TOKENS_PER_SHUFFLE_PARTITION = 3_000_000


def shuffle_partitions_for_tokens(coll_len: int, parallelism: int) -> int:
    """Partition count for the term-partitioned encode shuffle, sized
    from the collection length (known exactly after pass 2):
    at least one per core, more when the per-partition pair budget
    demands it — the knob that keeps the big shuffle spill-free at
    10^12 tokens without taxing small corpora with empty tasks."""
    return max(
        parallelism, -(-coll_len // TOKENS_PER_SHUFFLE_PARTITION)
    )


def encode_segments(
    stage1: DataFrame,
    blocks_per_seg: int = 4096,
    registry: list | None = None,
    codec: str = "vbyte",
    stage_dir: str | None = None,
    n_shuffle: int | None = None,
) -> DataFrame:
    """Term-partitioned merge: hash-shuffle the per-(term, block) array
    rows on (term, seg_group), then build every segment of a partition
    in ONE vectorized Arrow pass (mapInPandas + pandas groupby) — the
    per-group Python overhead of applyInPandas would dominate when the
    adaptive segmenting produces 10^5+ segments. Returns the bare
    segment rows (no global df/cf columns — callers that rebuild
    segments but derive df/cf elsewhere, like merge/reorder, stop
    here and skip a useless agg + join).

    ``stage_dir`` (if given) stages the encoded segments to parquet
    instead of a Spark cache. The segment rows carry arrays and a
    binary postings column, which forces the in-memory cache into
    row-based batches — every later projection (the df/cf stats agg,
    the range-layout sampling pass) re-deserializes whole rows,
    measured 2.5-3.9 s per pass at 455k segment rows, while the same
    reads off parquet are column-pruned page scans (~0.3 s). The
    staged file also extends the durable build checkpoint: encode
    never re-runs. ``registry`` (if given) collects the persisted
    intermediate frames so the caller can unpersist once the tables
    are materialized (IndexTables.unpersist / write_index do this)."""
    keyed = stage1.withColumn(
        "seg_group", (F.col("block") / F.lit(blocks_per_seg)).cast("long")
    )
    keyed = (
        keyed.repartition(n_shuffle, "term", "seg_group")
        if n_shuffle
        else keyed.repartition("term", "seg_group")
    )

    def fn(batches):
        import pyarrow as pa

        from atire_spark.kernels.segment import build_segments_arrow

        chunks = list(batches)
        if not chunks:
            return
        rb = build_segments_arrow(pa.Table.from_batches(chunks), codec=codec)
        if rb is not None:
            yield rb

    mapped = keyed.mapInArrow(fn, schema=POSTINGS_SCHEMA)
    if stage_dir is not None:
        path = f"{stage_dir}/segments"
        mapped.write.mode("overwrite").parquet(path)
        return stage1.sparkSession.read.parquet(path)
    stage2 = mapped.persist()
    if registry is not None:
        registry.append(stage2)
    return stage2


def segments_from_stage1(
    stage1: DataFrame,
    blocks_per_seg: int = 4096,
    registry: list | None = None,
    codec: str = "vbyte",
    stage_dir: str | None = None,
    n_shuffle: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """:func:`encode_segments` plus the global df/cf aggregation the
    batch build bakes into every postings row (the reference's
    dictionary cf/df fields travel with the postings here, so the
    scorer reads them without a separate dictionary probe)."""
    stage2 = encode_segments(
        stage1, blocks_per_seg, registry=registry, codec=codec,
        stage_dir=stage_dir, n_shuffle=n_shuffle,
    )
    # the stats row, the range-sampling pass and the join all re-read
    # term_stats — it is tiny (one row per term), so cache it in
    # either mode
    term_stats = stage2.groupBy("term").agg(
        F.sum("seg_df").alias("df"), F.sum("seg_cf").alias("cf")
    ).persist()
    if registry is not None:
        registry.append(term_stats)
    postings = stage2.join(term_stats, "term")
    return postings, term_stats


# ------------------------------------------------- quantized postings (-Q)
QUANT_POSTINGS_SCHEMA = POSTINGS_SCHEMA + ", df long, cf long"


def quantized_segments_from_stage1(
    stage1: DataFrame,
    n_docs: int,
    mean_doc_len: float,
    blocks_per_seg: int = 4096,
    bits: int = DEFAULT_QUANT_BITS,
    registry: list | None = None,
    codec: str = "vbyte",
    qminmax: tuple[float, float] | None = None,
    n_shuffle: int | None = None,
) -> tuple[DataFrame, DataFrame, float, float]:
    """Quantized (-Q) segments (reference memory_index.c:1541-1589).

    Needs global df per term *before* segment serialisation (the rsv
    depends on it) and the collection-wide min/max rsv, so this path
    runs one extra co-partitioned join (stage1 ⋈ term_stats, both
    already hashed on term — no extra shuffle of the posting payload)
    and one extra scan for the min/max (reference rsv_all_nodes,
    memory_index.c:1570-1580), unless ``qminmax`` supplies it."""
    # stage1 appears twice in the join DAG (directly and under the
    # stats agg) — persist so it is computed once and served from
    # cache; joined is then consumed by both the min/max pass and the
    # segment build
    stage1 = stage1.persist()
    term_stats = stage1.groupBy("term").agg(
        F.sum("df_b").alias("df"), F.sum("cf_b").alias("cf")
    )
    joined = stage1.join(term_stats.select("term", "df", "cf"), "term").persist()
    if registry is not None:
        registry.extend([stage1, joined])

    if qminmax is not None:
        # precomputed bounds (the checkpointed build computes them in a
        # separate resumable phase, one chunk of terms at a time — the
        # min/max is safely decomposable because term chunking keeps
        # each term's global df inside its chunk)
        qmin, qmax = qminmax
    else:
        mm = _minmax_from_joined(joined, n_docs, mean_doc_len)
        if mm is None:
            # zero postings in the corpus: nothing to quantize; 0/0 keeps
            # quantize_rsv's degenerate single-score path (impact 1)
            qmin = qmax = 0.0
        else:
            qmin, qmax = mm

    keyed = joined.withColumn(
        "seg_group", (F.col("block") / F.lit(blocks_per_seg)).cast("long")
    )
    keyed = (
        keyed.repartition(n_shuffle, "term", "seg_group")
        if n_shuffle
        else keyed.repartition("term", "seg_group")
    )

    k1, b = 0.9, 0.4  # BM25 defaults (ranking_function_bm25.h:14-15)

    def quantizer(tfs: np.ndarray, lens: np.ndarray, dfs: np.ndarray) -> np.ndarray:
        # the quantizer's rank() per posting (ranking_function_bm25.c:
        # 194-209): float32 prior, idf kept even at 0, then trunc-scale.
        # len+1 / mean+1: the index-side ranker reads the memory
        # index's RAW length array, which stores length+1 (the search
        # side subtracts the 1 back) — see kernels/quantize.raw_rsv
        tf_d = tfs.astype(np.float64)
        prior = (
            k1
            * (
                (1.0 - b)
                + b * ((lens.astype(np.float64) + 1.0) / (mean_doc_len + 1.0))
            )
        ).astype(np.float32)
        idf = np.log(np.float64(n_docs) / dfs.astype(np.float64))
        rsv = idf * ((tf_d * (k1 + 1.0)) / (tf_d + prior.astype(np.float64)))
        return quantize_rsv(rsv, qmin, qmax, bits)

    def seg_fn(batches):
        import pyarrow as pa

        from atire_spark.kernels.segment import build_segments_arrow

        chunks = list(batches)
        if not chunks:
            return
        rb = build_segments_arrow(
            pa.Table.from_batches(chunks), quantizer=quantizer, codec=codec
        )
        if rb is not None:
            yield rb

    postings = keyed.mapInArrow(seg_fn, schema=QUANT_POSTINGS_SCHEMA)
    return postings, term_stats, qmin, qmax


def _minmax_from_joined(
    joined: DataFrame, n_docs: int, mean_doc_len: float
) -> tuple[float, float] | None:
    """Collection (min, max) raw rsv over (tfs, lens, df)-joined stage1
    rows (rsv_all_nodes, memory_index.c:1570-1580) — None when empty.
    The single shared kernel behind both the direct -Q build and the
    checkpointed per-chunk phase."""

    def minmax_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mn, mx = np.inf, -np.inf
        for pdf in batches:
            counts = pdf["tfs"].str.len().to_numpy(dtype=np.int64)
            if not counts.sum():
                continue
            # one vectorized rsv over the whole batch's flattened
            # postings (df repeated per posting) — elementwise
            # identical to the per-row evaluation
            rsv = raw_rsv(
                np.concatenate(pdf["tfs"].to_numpy()).astype(np.int64),
                np.concatenate(pdf["lens"].to_numpy()).astype(np.int64),
                np.repeat(pdf["df"].to_numpy(np.int64), counts),
                n_docs,
                mean_doc_len,
            )
            mn = min(mn, float(rsv.min()))
            mx = max(mx, float(rsv.max()))
        if np.isfinite(mn):
            yield pd.DataFrame({"mn": [mn], "mx": [mx]})

    mm = (
        joined.select("tfs", "lens", "df")
        .mapInPandas(minmax_fn, schema="mn double, mx double")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .collect()[0]
    )
    if mm["mn"] is None:
        return None
    return float(mm["mn"]), float(mm["mx"])


def quant_minmax_from_stage1(
    stage1: DataFrame, n_docs: int, mean_doc_len: float
) -> tuple[float, float] | None:
    """Per-term-chunk (min, max) raw rsv — chunk results compose by
    plain min/max because a term chunk contains every posting of its
    terms (global df stays inside the chunk). stage1 feeds both the
    df aggregation and the probe side of the join, so it is persisted
    across the two consumptions (same shape the direct build caches)."""
    stage1 = stage1.persist()
    try:
        term_stats = stage1.groupBy("term").agg(F.sum("df_b").alias("df"))
        joined = stage1.join(term_stats, "term")
        return _minmax_from_joined(joined, n_docs, mean_doc_len)
    finally:
        stage1.unpersist()


# ---------------------------------------------------------------- build
MAX_SEG_SPAN_DOCS = 1 << 20  # ~1M docs per segment at full scale
MIN_SEG_SPAN_DOCS = 1 << 10


def _adaptive_block_bits(n_docs: int, parallelism: int) -> int:
    """Segment span targets ~parallelism/4 segments for the whole
    corpus at small scale (per-segment fixed costs — row overhead,
    scheduling, impact-header arrays — dominate under ~10^5 docs per
    core; measured at 140k docs / 32 cores: 4-segments-per-core cost
    455k segment rows and was 15-20 % slower to build AND to query
    than this span), capped at ~1M docs so a 10^12-doc collection
    still yields ~10^6 independent docid ranges (the cap, not the
    parallelism floor, governs at cluster scale) and floored so tiny
    corpora don't fragment."""
    target = max(
        MIN_SEG_SPAN_DOCS,
        min(MAX_SEG_SPAN_DOCS, 4 * n_docs // parallelism + 1),
    )
    return max(int(target - 1).bit_length(), 10)


def _cull_predicate(
    n_docs: int,
    cull_cf_singletons: bool,
    cull_df_max: int | None,
    cull_df_proportion: float | None,
    cull_stoplist: str | None,
):
    """Serialise-time term culling (should_prune, memory_index.c:
    782-798): a term is DROPPED when any enabled predicate fires —
    cf == 1 (PRUNE_CF_SINGLETONS), df <= n (PRUNE_DF_SINGLETONS),
    df/N >= p (PRUNE_DF_FREQUENTS), or stop-list membership
    (PRUNE_NCBI_STOPLIST / PRUNE_PUURULA_STOPLIST). Returns a KEEP
    column expression over (term, df, cf), or None if no culling."""
    preds = []
    if cull_cf_singletons:
        preds.append(F.col("cf") == 1)
    if cull_df_max is not None:
        preds.append(F.col("df") <= int(cull_df_max))
    if cull_df_proportion is not None:
        preds.append(
            (F.col("df").cast("double") / F.lit(float(n_docs)))
            >= float(cull_df_proportion)
        )
    if cull_stoplist is not None:
        from atire_spark.kernels.stopwords import stop_set

        preds.append(F.col("term").isin(list(stop_set(cull_stoplist))))
    if not preds:
        return None
    drop = preds[0]
    for p in preds[1:]:
        drop = drop | p
    return ~drop


def puurula_lengths(
    stage1: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    block_bits: int,
    blocks_per_seg: int = 1,
) -> DataFrame:
    """Per-document Puurula length vectors — the reference's -Ilmp /
    -Ilmptfidf serialise step (memory_index.c:1270-1410
    compute_puurula_document_lengths), which stores per-doc aggregates
    as postings of squiggle terms; here they are one row per docid:

    - ``uniq``: distinct terms in the doc (~unique_terms_in_document,
      memory_index.c:1231-1264 — every indexed term counts; the
      reference's "special term" skip only excludes uppercase/tag
      terms, which this engine's lowercasing tokenizer never emits)
    - ``ddl[i]``: floor(1000·Σ_t max(tf − g·tf^g, 0)) for g = i/10
      (~puurula_length_i, memory_index.c:1393-1400; the ×1000 trunc is
      set_puurula_length's 3-decimal quantization, memory_index.h:220)
    - ``tfidf_len``: floor(1000·Σ_t w_t), w_t = ln(1 + tf/uniq)·
      ln(N/df) (~puurula_tfidf_length, memory_index.c:1311-1315)
    - ``tfidf_ddl[i]``: floor(1000·Σ_t max(w_t − gg·w_t^gg, 0)) for
      gg = i/1000 (~puurula_tfidf_powerlaw_length_i — the reference's
      TFIDF powerlaw discount really is g/1000, memory_index.c:1317)

    Sums are rounded to 9 dp before the ×1000 trunc so the engine and
    the DuckDB oracle agree regardless of float addition order (the
    reference's own sum order — hash-table traversal — is not
    reproducible anyway).

    ``seg_group`` is the same pure function of docid the segment
    builder uses, so a cogroup on it co-locates each doc's aux row
    with every segment that can score it.
    """
    ex = stage1.select(
        "term", F.explode(F.arrays_zip("docids", "tfs")).alias("z")
    ).select(
        "term",
        F.col("z.docids").cast("long").alias("docid"),
        F.col("z.tfs").cast("double").alias("tf"),
    )

    def _disc(col, g: float):
        if g == 0.0:
            return col  # max(tf − 0·tf^0, 0) = tf
        return F.greatest(col - g * F.pow(col, F.lit(g)), F.lit(0.0))

    def _q1000(sum_col):
        return F.floor(F.round(sum_col, 9) * 1000.0).cast("long")

    plain = ex.groupBy("docid").agg(
        F.count("*").alias("uniq"),
        *[
            _q1000(F.sum(_disc(F.col("tf"), i / 10.0))).alias(f"ddl_{i}")
            for i in range(10)
        ],
    )
    w = (
        ex.join(term_stats.select("term", "df"), "term")
        .join(plain.select("docid", "uniq"), "docid")
        .withColumn(
            "w",
            F.log(F.lit(1.0) + F.col("tf") / F.col("uniq").cast("double"))
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
        )
    )
    tfidf = w.groupBy("docid").agg(
        _q1000(F.sum("w")).alias("tfidf_len"),
        *[
            _q1000(F.sum(_disc(F.col("w"), i / 1000.0))).alias(f"tddl_{i}")
            for i in range(10)
        ],
    )
    return (
        plain.join(tfidf, "docid")
        .select(
            (F.shiftright("docid", block_bits) / F.lit(blocks_per_seg))
            .cast("long")
            .alias("seg_group"),
            "docid",
            "uniq",
            F.array(*[f"ddl_{i}" for i in range(10)]).alias("ddl"),
            "tfidf_len",
            F.array(*[f"tddl_{i}" for i in range(10)]).alias("tfidf_ddl"),
        )
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    block_bits: int | None = None,
    blocks_per_seg: int = 1,
    quantize_bits: int | str | None = None,
    stage_dir: str | None = None,
    stemmer: str | None = None,
    stop_before_indexing: str | None = None,
    cull_cf_singletons: bool = False,
    cull_df_max: int | None = None,
    cull_df_proportion: float | None = None,
    cull_stoplist: str | None = None,
    puurula: bool = False,
    cjk_bigrams: bool = False,
    cjk_segmenter=None,
    codec: str = "vbyte",
) -> IndexTables:
    """Full build. Returns lazily-evaluated DataFrames; call
    :func:`write_index` to materialize.

    ``block_bits=None`` (default) sizes segments adaptively from the
    corpus size and cluster parallelism (:func:`_adaptive_block_bits`);
    pass an explicit value to pin the layout (tests do).

    ``stage_dir`` holds the per-build staging parquet: the side-written
    token arrays (cleared at the start of every build — they are
    per-run output, not a resume point) and the encoded segment staging
    parquet (written once per build; downstream actions re-read it
    rather than re-encoding). For a RESUMABLE build use
    :func:`atire_spark.checkpoint.build_index_checkpointed`, whose
    workdir is the durable checkpoint. Defaults to a temp dir that must
    outlive the returned lazy DataFrames — after :func:`write_index` it
    can be deleted.

    ``quantize_bits`` switches on the reference's -Q mode (an int bit
    width, or ``"auto"`` for the reference's collection-size formula
    ``(long long)(5.4 + 5.4e-4*sqrt(N))``, memory_index.c:1553-1556):
    postings
    store pre-scored integer impacts instead of saturated tfs, and the
    stats row records (quantized, quant_bits, quant_min, quant_max) —
    the reference's ``~quantized``/``~quantmax``/``~quantmin`` index
    variables (memory_index.c:1562-1580).

    ``stemmer`` (any kernels.stem.STEMMERS name: "s", "porter",
    "paice_husk", "otago", "otago_v2") stems at index time and records the
    stemmer name in the stats row — the reference's ``~stemmer`` index
    variable (memory_index.c:1487-1521); SearchEngine reads it and
    stems query terms with the same stemmer (search_engine.c:775-779).

    ``stop_before_indexing`` removes stop-list tokens before posting
    construction (PRUNE_STOPWORDS_BEFORE_INDEXING — see
    :func:`tokenize_stage` for the doc-length subtlety); the
    ``cull_*`` knobs drop whole terms at serialise time
    (should_prune, memory_index.c:782-798) — doc lengths and
    collection stats are unaffected by culling, exactly like the
    reference where ~length is written before the prune runs.
    """
    import tempfile

    from atire_spark.kernels.stem import STEMMERS

    if stemmer is not None and stemmer not in STEMMERS:
        raise ValueError(
            f"unknown stemmer {stemmer!r} (known: {', '.join(STEMMERS)})"
        )
    if puurula and quantize_bits is not None:
        # the reference's -Q pipeline cannot change ranker afterwards
        # (atire_api.c:472-478), so lmp length vectors would be dead
        raise ValueError("puurula length vectors require an unquantized index")
    from atire_spark.kernels.codecs import CODEC_NAMES

    if codec not in CODEC_NAMES:
        raise ValueError(
            f"unknown postings codec {codec!r}; known: {sorted(CODEC_NAMES)}"
        )
    if stage_dir is None:
        stage_dir = tempfile.mkdtemp(prefix="atire_stage_")

    # ---- passes 1-3: tokenize once, docids over the narrow keys, docids
    # joined back onto the side-written token arrays. The key partitions
    # stay persisted until write_index: the docmap is a cheap stamp over
    # them, recomputed by the pass-3 join and the docmap write.
    tok_staged, docmap, n_total, coll_len, _n_keys, key_parts = (
        _docid_token_rows(
            spark,
            transcripts,
            stage_dir,
            stemmer=stemmer,
            stop_before_indexing=stop_before_indexing,
            cjk_bigrams=cjk_bigrams,
            cjk_segmenter=cjk_segmenter,
        )
    )
    registry: list = [key_parts]

    if block_bits is None:
        block_bits = _adaptive_block_bits(
            max(n_total, 1), spark.sparkContext.defaultParallelism
        )
    stage1 = _stage1(tok_staged, block_bits)

    keep = _cull_predicate(
        max(n_total, 1),
        cull_cf_singletons,
        cull_df_max,
        cull_df_proportion,
        cull_stoplist,
    )
    if quantize_bits is None:
        postings, term_stats = segments_from_stage1(
            stage1,
            blocks_per_seg,
            registry=registry,
            codec=codec,
            stage_dir=stage_dir,
            n_shuffle=shuffle_partitions_for_tokens(
                coll_len, spark.sparkContext.defaultParallelism
            ),
        )
        pre_cull_ts = term_stats
        if keep is not None:
            # culling drops the term's postings AND its dictionary row
            # (serialise skips the node entirely); lengths/stats keep
            # the pre-cull values like the reference's ~length
            postings = postings.filter(keep)
            term_stats = term_stats.filter(keep)
        # documents / collection_len / mean are literals — pass 2
        # already counted them per bucket, so the stats row costs
        # only the (cached) term_stats count, never a docmap re-scan
        stats = term_stats.agg(F.count("*").alias("unique_terms")).select(
            F.lit(n_total).cast("long").alias("documents"),
            F.lit(coll_len).cast("long").alias("collection_len"),
            F.lit(coll_len / n_total if n_total else 0.0).alias(
                "mean_doc_len"
            ),
            "unique_terms",
            F.lit(0).alias("quantized"),
            F.lit(0).alias("quant_bits"),
            F.lit(0.0).alias("quant_min"),
            F.lit(0.0).alias("quant_max"),
            F.lit(stemmer or "").alias("stemmer"),  # ~stemmer
            F.lit(codec).alias("codec"),
        )
        puu = None
        if puurula:
            # ~uniqueterms + length vectors run before should_prune in
            # the reference serialise (memory_index.c:1538 precedes the
            # per-node prune), so they use the PRE-cull term stats
            puu = puurula_lengths(
                stage1, pre_cull_ts, n_total, block_bits, blocks_per_seg
            )
        return IndexTables(
            docmap=docmap,
            postings=postings,
            stats=stats,
            cached=registry,
            puurula=puu,
            tokenized=tok_staged,
        )

    # pass 2 already counted N and the collection length —
    # the quantizer needs no extra docmap scan; an all-empty corpus
    # has n_docs 0 and the quantizer never runs (no postings)
    n_docs = n_total
    mean_len = coll_len / n_docs if n_docs else 0.0
    if quantize_bits == "auto":
        # memory_index.c:1553-1556: bits = (long long)(5.4 +
        # 5.4e-4*sqrt(df)) where df is the ~length squiggle node's
        # document frequency — i.e. the collection size (Crane,
        # Trotman & O'Keefe, CIKM 2013: maintaining discriminatory
        # power in quantized indexes)
        import math

        quantize_bits = int(5.4 + 5.4e-4 * math.sqrt(n_docs))
    postings, term_stats, qmin, qmax = quantized_segments_from_stage1(
        stage1,
        n_docs,
        mean_len,
        blocks_per_seg,
        quantize_bits,
        registry=registry,
        codec=codec,
        n_shuffle=shuffle_partitions_for_tokens(
            coll_len, spark.sparkContext.defaultParallelism
        ),
    )
    if keep is not None:
        # quantization bounds (min/max rsv) are computed over ALL terms
        # before the prune, as in the reference's serialise order
        # (rsv_all_nodes runs before should_prune per node)
        postings = postings.filter(keep)
        term_stats = term_stats.filter(keep)
    stats = term_stats.agg(F.count("*").alias("unique_terms")).select(
        F.lit(n_docs).cast("long").alias("documents"),
        F.lit(coll_len).cast("long").alias("collection_len"),
        F.lit(mean_len).alias("mean_doc_len"),
        "unique_terms",
        F.lit(1).alias("quantized"),
        F.lit(quantize_bits).alias("quant_bits"),
        F.lit(qmin).alias("quant_min"),
        F.lit(qmax).alias("quant_max"),
        F.lit(stemmer or "").alias("stemmer"),  # ~stemmer
        F.lit(codec).alias("codec"),
    )
    return IndexTables(
        docmap=docmap,
        postings=postings,
        stats=stats,
        cached=registry,
        tokenized=tok_staged,
    )


# ---------------------------------------------------------------- storage
def append_log_row(spark: SparkSession, path: str, schema: str, row: dict) -> None:
    """Append one row, stamped ``ts`` = now (UTC), to the append-only
    parquet log at ``path`` (the checkpointed build's ``_build_log``,
    the stream's ``_ingest_log``). Columns missing from ``row`` are
    NULL. The frame is built from an Arrow table, so it plans as a
    LocalTableScan and the write starts no Python worker (a row of
    Python objects is unpickled by one, ~0.5 s per row); ``schema``
    (DDL, with ``ts timestamp``) pins every column's Spark type, so
    rows written at any time read back as one table."""
    from datetime import datetime, timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [{**row, "ts": datetime.now(timezone.utc)}],
        schema=to_arrow_schema(struct),
    )
    spark.createDataFrame(table, struct).coalesce(1).write.mode("append").parquet(
        path
    )


def write_index(tables: IndexTables, path: str, mode: str = "overwrite") -> None:
    """Materialize to a directory of parquet tables.

    Postings are RANGE-partitioned by (term, seg_group), not hashed:
    hash placement makes every file span the whole term range, so
    file-level min/max stats can never exclude a file and a query's
    pushed term filter only prunes row groups after paying a footer
    read per file. Range clustering keeps each term's rows in one or
    a few adjacent files (a head term's segments may straddle a file
    boundary — min/max stays tight either way), which is exactly the
    layout an Iceberg sort-order would give; at 10^12 docs the
    manifest min/max then skips files at planning time instead of at
    scan time. Measured at 140k turns / 10k vocab: 10-20 % lower
    query latency than the hash layout on 1- and 5-term queries.
    """
    tables.docmap.write.mode(mode).parquet(f"{path}/docmap")
    tables.postings.repartitionByRange("term", "seg_group").sortWithinPartitions(
        "term", "seg_group"
    ).write.mode(mode).parquet(f"{path}/postings")
    tables.stats.write.mode(mode).parquet(f"{path}/stats")
    if tables.puurula is not None:
        # clustered on seg_group so the query-side cogroup reads
        # contiguous files per group (Iceberg: partition/sort on it)
        tables.puurula.repartition("seg_group").sortWithinPartitions(
            "seg_group", "docid"
        ).write.mode(mode).parquet(f"{path}/puurula")
    tables.unpersist()  # build intermediates no longer needed


def load_index(spark: SparkSession, path: str) -> IndexTables:
    # existence-probe the optional puurula side table instead of
    # catch-reading it: a read of a missing path makes py4j print a
    # Java stack trace even when the exception is caught, polluting
    # bench/driver output with a failure that isn't one. Probed via
    # the Hadoop FS API so it works on any cluster filesystem, not
    # just local paths.
    puu_path = f"{path}/puurula"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(puu_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    puu = spark.read.parquet(puu_path) if fs.exists(jpath) else None
    return IndexTables(
        docmap=spark.read.parquet(f"{path}/docmap"),
        postings=spark.read.parquet(f"{path}/postings"),
        stats=spark.read.parquet(f"{path}/stats"),
        puurula=puu,
    )
