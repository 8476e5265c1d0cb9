"""BM25 top-k search over the segmented postings table.

Spark-first re-expression of the reference's term-at-a-time search
(reference atire/atire_api.c:843-879, source/search_engine.c:763-1126):

reference                                   → this engine
------------------------------------------- ----------------------------
dictionary B-tree lookup per term            postings.filter(term isin
(search_engine.c:403-518)                    query terms) → parquet/Iceberg
                                             file prune
read + partial decompress postings           vectorized vbyte decode per
(search_engine.c:845-1084)                   segment in _grouped_topk
per-impact-group score computed once,        group_contrib kernel per
add_rsv per docid                            (segment, impact group)
(ranking_function_bm25.c:111-128)
uint16 fixed-point accumulator array         per query: sort by docid,
(search_engine_accumulator.h:76)             np.add.reduceat(contrib),
                                             signed 16-bit view
top-k heap + partial sort, tie larger        np.partition to the k-th
docid first (search_engine_accumulator.h)    value, then lexsort (rsv
                                             desc, docid desc) → rank <= k

The grouped scorer runs in one of two placements, a property of the
index (see SearchEngine._search_grouped). An index of at most
RESIDENT_MAX_POSTINGS tokens is resident on the driver: the
reference's -M in-memory index (search_engine.c:52-55), loaded once,
so a query filters it in process and runs no Spark job. Any other
index, or a batch with read-side trims, runs distributed: mapInPandas
over seg_group partitions, then a row_number() window keeps
rank <= k.

Segments are self-contained (global df on the row, doc lengths inline),
so scoring is embarrassingly parallel: no docmap join, no broadcast of
per-doc state — the property that survives a 1000-executor 10^12-doc
deployment.
"""

from __future__ import annotations

import functools
import re
import threading
from collections import Counter, namedtuple
from itertools import repeat
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atire_spark.build import IndexTables
from atire_spark.kernels.bm25 import (
    ACCUM_HALF,
    ACCUM_MOD,
    BM25_B,
    BM25_K1,
    accum_value,
    accum_value_col,
)
from atire_spark.kernels.impact import decode_group, decode_segment
from atire_spark.kernels.tokenizer import tokenize
from atire_spark.kernels.vbyte import vbyte_decode

RESULT_SCHEMA = "query_id long, rank int, docid long, rsv_fixed long, rsv double"
# RESULT_SCHEMA as Arrow, for driver-local result frames
_RESULT_ARROW = pa.schema(
    [
        ("query_id", pa.int64()),
        ("rank", pa.int32()),
        ("docid", pa.int64()),
        ("rsv_fixed", pa.int64()),
        ("rsv", pa.float64()),
    ]
)

# An index whose collection length (tokens, which bounds Σ df and so
# its postings) is at most this is held resident on the driver, see
# _Resident. Postings take 0.9-2.8 B of Arrow per token (0.9 B
# measured on bench.py's 140k-turn corpus), so 2^25 tokens are
# ~30-95 MB: a serving shard, a stream index after ~130 2k-turn
# appends, or bench.py's 140k-turn index. Read at query time.
RESIDENT_MAX_POSTINGS = 1 << 25

# search_stemmed_iterator collects a batch's stem-class members to the
# driver when they number at most this (the query-bounded case); a
# larger population stays a DataFrame and reaches the postings through
# joins. Read at query time.
CLASS_COLLECT_MAX = 10_000


def _doc_name():
    """A docmap row's document name, ``conv_id:turn_idx``."""
    return F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("name")


# the postings columns a scorer reads from a matched segment row
_SEG_FIELDS = (
    "term", "df", "cf", "impacts", "doc_counts", "byte_offsets", "postings", "doc_lens"
)
_Seg = namedtuple("_Seg", _SEG_FIELDS + ("cum_before",))


def _seg_rows(batch, cum_before: bool = False) -> Iterator[_Seg]:
    """The segment rows of a pandas batch or an Arrow table, read by
    column. ``cum_before`` (see :meth:`SearchEngine._with_trim_cum`)
    is read only when asked for, else None."""
    cols = [batch[c].to_numpy() for c in _SEG_FIELDS]
    cols.append(batch["cum_before"].to_numpy() if cum_before else repeat(None, len(batch)))
    return map(_Seg._make, zip(*cols))


class _Resident:
    """The reference's ``-M`` in-memory index (search_engine.c:52-55)
    on the driver, the only row source of a driver-placed batch: the
    postings columns a scorer reads (``_SEG_FIELDS``) as Arrow, sorted
    by term so a query's rows are one binary search per term, and the
    docmap's names, sorted by docid. Loaded once per engine."""

    def __init__(self, index: IndexTables):
        self.postings = index.postings.select(*_SEG_FIELDS).toArrow().sort_by("term")
        self.terms = self.postings["term"].to_numpy()
        names = index.docmap.select("docid", _doc_name()).toArrow().sort_by("docid")
        self.docids = names["docid"].to_numpy()
        self.names = names["name"].to_numpy()

    def rows(self, terms: list[str]) -> pa.Table:
        """The postings rows of ``terms``: what
        ``postings.filter(term isin terms).select(*_SEG_FIELDS)``
        returns, as Arrow."""
        lo = np.searchsorted(self.terms, terms, side="left")
        hi = np.searchsorted(self.terms, terms, side="right")
        take = np.concatenate([np.arange(a, b) for a, b in zip(lo, hi)])
        return self.postings.take(take)

    def names_of(self, docids: list[int]) -> dict[int, str]:
        """docid → name, for the docids with a docmap row."""
        pos = np.searchsorted(self.docids, docids)
        return {
            d: self.names[p]
            for d, p in zip(docids, pos)
            if p < len(self.docids) and self.docids[p] == d
        }


def _local_result(spark: SparkSession, ranked: pd.DataFrame | None = None) -> DataFrame:
    """A RESULT_SCHEMA frame held on the driver (``None`` → empty).
    Built from an Arrow table, so it plans as a LocalTableScan and
    collects without a Spark job; a Python list or an empty pandas
    frame would go through ``parallelize`` and cost one. Read with
    ``toPandas()`` it still costs one job (Spark's Arrow collect
    path); a caller that wants the rows in pandas should use
    :meth:`SearchEngine.search_ranked`."""
    if ranked is None:
        return spark.createDataFrame(_RESULT_ARROW.empty_table())
    return spark.createDataFrame(
        pa.Table.from_pandas(ranked, schema=_RESULT_ARROW, preserve_index=False)
    )


def _rank_local(cand: pd.DataFrame, k: int) -> pd.DataFrame:
    """:meth:`SearchEngine._rank_topk` on the driver placement's
    candidates (at most k per query, see :func:`_grouped_topk`):
    rsv_fixed desc, tie larger-docid-first, rank <= k, ordered by
    (query_id, rank), in one lexsort."""
    q, d, r = (cand[c].to_numpy(np.int64) for c in ("query_id", "docid", "rsv_fixed"))
    order = np.lexsort((-d, -r, q))
    q, d, r = q[order], d[order], r[order]
    pos = np.arange(q.size)
    first = np.ones(q.size, dtype=bool)
    first[1:] = q[1:] != q[:-1]
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0)) + 1
    keep = rank <= k
    return pd.DataFrame(
        {
            "query_id": q[keep],
            "rank": rank[keep],
            "docid": d[keep],
            "rsv_fixed": r[keep],
            "rsv": r[keep] / 100.0,
        }
    )


LMD_U = 6750.0  # ranking_function_lmd.h:10
LMDS_U = 2500.0  # ranking_function_lmds.h:13
PUURULA_U = 1000.0  # ranking_function_puurula.h:14
PUURULA_G = 0.5  # ranking_function_puurula.h:15
# lmptfidf's powerlaw index is (int)(g*1000) and must be <= 9
# (ranking_function_puurula_idf.c:45-48) — the factory default g=0.5
# would exit() there; 0.005 is the largest-step value the C code runs
PUURULA_IDF_G = 0.005

# the search_batch ranker slots (ranking_function_factory.c:38-71);
# allterms/impact/readable/pregen ride their own entry points
# (conjunctive=True, the quantized index, search_readable,
# search_pregen)
KNOWN_RANKERS = frozenset(
    {
        "bm25", "bm25l", "bm25plus", "bm25t", "bm25adpt", "tflodop",
        "lmd", "lmds", "lmp", "lmptfidf", "lmjm", "divergence", "bose",
        "dlh13", "dph", "dfree", "dfi", "dfiw", "dfi_idf", "dfiw_idf",
        "inner", "kbtfidf", "termcount", "docid_asc", "docid_desc",
    }
)
LMJM_LAMBDA = 0.5  # ranking_function_lmjm.h:9
BM25L_DELTA = 0.5  # ranking_function_bm25l.h:16
BM25PLUS_DELTA = 1.0  # ranking_function_bm25plus.h:16


def _log2(x: np.ndarray) -> np.ndarray:
    """ln(x)/ln(2) — the reference's ANT_log2 (maths.h); written as the
    ratio (not np.log2) so the SQL oracle's ln(x)/ln(2.0) shares the
    exact operation order."""
    return np.log(x) / np.log(2.0)


def _per_query_contrib(
    dec, n_query: float, post: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Resolve a _segment_contrib result to (docids, unit int64
    contributions) for one query occurrence.

    ``post`` is the reference's POSTSCALAR (NEXI_term.h:24
    ``rsv_weight``): the accumulator receives
    ``1 + trunc(100 * (post * rsv))`` per hit
    (search_engine_accumulator.h:76 via quantize(postscalar * rsv) at
    every ranking function's add_rsv call site). Relevance feedback
    sets it to the expansion term's KL score (atire_api.c:1334-1336);
    everything else leaves it at 1.
    """
    kind = dec[0]
    if kind == "fixed":
        # integer impacts (quantized index) / termcount: added straight
        # into the accumulator, no fixed-point scaling, no postscalar
        return dec[1], dec[2]
    if kind == "float":
        _, docids, rsv = dec
        return docids, 1 + ((rsv * post) * 100.0).astype(np.int64)
    # LM-Dirichlet: per-query contribution depends on query length
    _, docids, a, bb = dec
    rsv = a - n_query * bb
    return docids, 1 + ((rsv * post) * 100.0).astype(np.int64)


def _segment_contrib(
    row,
    ranker: str,
    conjunctive: bool,
    quantized: bool,
    n_docs: int,
    mean_len: float,
    coll_len: int = 0,
    take_counts: np.ndarray | None = None,
    term_aux: dict | None = None,
    codec: str = "vbyte",
):
    """Decode one matching segment row.

    Returns one of (docids always parallel to the value arrays):
    - ``("fixed", docids, unit)`` — integer unit contributions added
      straight into the accumulator (quantized impacts, termcount);
    - ``("float", docids, rsv)`` — raw double rsv per posting;
      :func:`_per_query_contrib` applies the postscalar + fixed-point
      step ``1 + trunc(100 * post * rsv)``;
    - ``("lmd", docids, A, B)`` — query-length-dependent LM-Dirichlet,
      rsv = A − n·B with n = query term count;
    - ``("lmds", docids, rsv, rsv_prior, cf)`` — LMDS, whose document
      prior is folded into the FIRST accumulated hit of each doc
      (ranking_function_lmds.c:110-115 ``is_zero_rsv``): ``rsv_prior``
      is the first-hit value (needs the per-query length scaling at
      accumulation time), ``cf`` orders terms (ascending collection
      frequency — the reference's processing order,
      atire_api.c:961-968);
    - ``None`` — the term is skipped entirely.

    Rankers (reference ranking_function_factory.c:38-71 slots):
    - ``bm25``      ranking_function_bm25.c:76-130, k1=0.9 b=0.4,
      float32 length prior, df==N contributes nothing (bm25.c:91-92);
    - ``termcount`` boolean-OR: one point per matching term;
    - ``inner``     TF·IDF inner product: rsv = tf·idf²/100
      (ranking_function_inner_product.c);
    - ``lmd``       LM Dirichlet u=6750 (ranking_function_lmd.c);
    - ``lmds``      LM Dirichlet, Petri/Culpepper/Moffat form, u=2500
      (ranking_function_lmds.c);
    - ``lmjm``      LM Jelinek-Mercer λ=0.5 (ranking_function_lmjm.c):
      rsv = ln(1 + ((1−λ)/λ)·(tf/len_d)·(len_C/cf));
    - ``bm25l``     Lv & Zhai SIGIR'11 (ranking_function_bm25l.c),
      δ=0.5: c' = tf/(1−b+b·len/avg), rsv = idf·(k1+1)(c'+δ)/(k1+c'+δ);
    - ``bm25plus``  Lv & Zhai CIKM'11 (ranking_function_bm25plus.c),
      δ=1: rsv = idf·((k1+1)tf/(k1·(1−b+b·len/avg)+tf) + δ);
    - ``dph``       DPH divergence (ranking_function_dph.c): f=tf/len,
      norm=(1−f)²/(tf+1), rsv = norm·(tf·log2((tf·avg/len)·(N/cf)) +
      0.5·log2(2π·tf·(1−f)));
    - ``dlh13``     DLH13 as Terrier computes it
      (ranking_function_dlh13.c:94-96): rsv = (tf·log2((tf·avg/len)·
      (N/cf)) + 0.5·log2(2π·tf·(1−tf/len)))/(tf+0.5).
    For dph/dlh13 a posting with tf == len_d makes log2(0) → −inf and
    the reference's cast to short is undefined C; we define such
    postings to contribute nothing and mirror that in the SQL oracle.
    On a quantized index the impact IS the score, added directly
    (add_rsv(long)); other rankers are rejected upstream — the
    reference refuses to change ranker on a quantized index
    (atire_api.c:472-478).
    """
    k1, b = BM25_K1, BM25_B
    idf = 1.0
    if ranker == "bm25" and not quantized:
        idf = float(np.log(np.float64(n_docs) / np.float64(int(row.df))))
        if idf == 0.0 and not conjunctive:
            return None
    docids, impacts, lens = decode_segment(
        np.asarray(row.impacts),
        np.asarray(row.doc_counts),
        row.postings,
        row.doc_lens,
        codec=codec,
        byte_offsets=np.asarray(row.byte_offsets, dtype=np.int64),
    )
    if take_counts is not None:
        # partial decode to the trim point (search_engine.c:1040-1070):
        # keep the first take_counts[g] postings of each quantum g —
        # the crossing quantum is cut mid-stream, later quantums get 0
        counts = np.asarray(row.doc_counts, dtype=np.int64)
        tk = np.minimum(np.asarray(take_counts, dtype=np.int64), counts)
        starts = np.concatenate(([0], np.cumsum(counts[:-1])))
        pos = np.arange(docids.size, dtype=np.int64) - np.repeat(starts, counts)
        keep = pos < np.repeat(tk, counts)
        docids, impacts = docids[keep], impacts[keep]
        if lens is not None:
            lens = lens[keep]
        if docids.size == 0:
            return None
    if quantized:
        return "fixed", docids, impacts.astype(np.int64)
    if ranker == "termcount":
        return "fixed", docids, np.ones(docids.size, dtype=np.int64)
    tf_d = impacts.astype(np.float64)
    len_d = lens.astype(np.float64)
    if ranker == "inner":
        idf2 = float(np.log(np.float64(n_docs) / np.float64(int(row.df))))
        return "float", docids, (tf_d * idf2 * idf2) / 100.0
    if ranker == "lmd":
        lenc_over_cf = np.float64(coll_len) / np.float64(int(row.cf))
        a = np.log(1.0 + (tf_d / LMD_U) * lenc_over_cf)
        bb = np.log(1.0 + len_d / LMD_U)
        return "lmd", docids, a, bb
    if ranker == "lmds":
        idfc = np.float64(coll_len) / np.float64(int(row.cf))
        rsv = 1.0 * np.log((tf_d / LMDS_U) * idfc + 1.0)
        # first-hit variant: rsv + |q|·ln(u/(len+u)); |q| applied at
        # accumulation time, so ship the per-doc prior term
        prior = np.log(LMDS_U / (len_d + LMDS_U))
        return "lmds", docids, rsv, prior, int(row.cf)
    if ranker == "lmjm":
        oml = (1.0 - LMJM_LAMBDA) / LMJM_LAMBDA
        idfc = np.float64(coll_len) / np.float64(int(row.cf))
        return "float", docids, np.log(1.0 + oml * (tf_d / len_d) * idfc)
    if ranker == "bm25l":
        idfl = float(np.log(np.float64(n_docs) / np.float64(int(row.df))))
        c_prime = tf_d / (1.0 - b + b * (len_d / mean_len))
        f_prime = ((k1 + 1.0) * (c_prime + BM25L_DELTA)) / (
            k1 + c_prime + BM25L_DELTA
        )
        return "float", docids, f_prime * idfl
    if ranker == "bm25plus":
        idfp = float(np.log(np.float64(n_docs) / np.float64(int(row.df))))
        rsv = idfp * (
            ((k1 + 1.0) * tf_d)
            / (k1 * (1.0 - b + b * (len_d / mean_len)) + tf_d)
            + BM25PLUS_DELTA
        )
        return "float", docids, rsv
    if ranker == "bose":
        # Bose-Einstein GL2 (ranking_function_bose_einstein.c:76-96)
        cf_d = np.float64(int(row.cf))
        left = float(np.log(1.0 + cf_d / np.float64(n_docs)))
        right = float(np.log(1.0 + np.float64(n_docs) / cf_d))
        tf_prime = tf_d * np.log(1.0 + mean_len / len_d)
        return "float", docids, (left + tf_prime * right) / (tf_prime + 1.0)
    if ranker == "divergence":
        # DFR I(ne)B2 (ranking_function_divergence.c:46-75)
        big_f = np.float64(int(row.cf))
        nd = np.float64(n_docs)
        ne = nd * (1.0 - np.power((nd - 1.0) / nd, big_f))
        inf_right = float(_log2((nd + 1.0) / (ne + 0.5)))
        tf_prime = tf_d * _log2(1.0 + mean_len / len_d)
        rsv = tf_prime * inf_right * (
            (big_f + 1.0) / (np.float64(int(row.df)) * (tf_prime + 1.0))
        )
        return "float", docids, rsv
    if ranker == "dfree":
        # DFRee (ranking_function_dfree.c:20-45)
        prior = tf_d / len_d
        posterior = (tf_d + 1.0) / (len_d + 1.0)
        ipc = np.float64(coll_len) / tf_d
        norm = tf_d * _log2(posterior / prior)
        score = 1.0 * norm * (
            tf_d * (-_log2(prior * ipc))
            + (tf_d + 1.0) * (+_log2(posterior * ipc))
            + 0.5 * _log2(posterior / prior)
        )
        return "float", docids, score
    if ranker in ("dfi", "dfi_idf", "dfiw", "dfiw_idf"):
        # DFI family (ranking_function_dfi*.c): ef = cf·len/|C|,
        # base = log2((tf−ef)/sqrt(ef) + 1); only tf−ef > 0 scores
        cf_d = np.float64(int(row.cf))
        ef = cf_d * (len_d / np.float64(coll_len))
        ok = (tf_d - ef) > 0
        with np.errstate(invalid="ignore", divide="ignore"):
            rsv = _log2((tf_d - ef) / np.sqrt(ef) + 1)
            if ranker in ("dfi_idf", "dfiw_idf"):
                rsv = rsv * float(
                    _log2(np.float64(n_docs) / np.float64(int(row.df)))
                )
            if ranker in ("dfiw", "dfiw_idf"):
                rsv = rsv * -_log2(tf_d / len_d)
        return "float", docids[ok], rsv[ok]
    if ranker == "tflodop":
        # TFlodop (ranking_function_tflodop.c:73-89), b=0.1 δ=0.1
        idft = float(
            np.log((np.float64(n_docs) + 1) / np.float64(int(row.df)))
        )
        tf_part = 1 + np.log(
            1 + np.log(tf_d / (1 - 0.1 + 0.1 * (len_d / mean_len)) + 0.1)
        )
        return "float", docids, tf_part * idft
    if ranker == "kbtfidf":
        # kbtfidf (ranking_function_kbtfidf.c:139,160-163): rsv =
        # (ln(k·tf − b)·idf²)/100, k=5, b=2.281718171540955 (= 5−e,
        # so tf=1 scores exactly idf²)
        idfk = float(np.log(np.float64(n_docs) / np.float64(int(row.df))))
        raw = np.log(5.0 * tf_d - 2.281718171540955) * idfk * idfk
        return "float", docids, raw / 100.0
    if ranker in ("docid_asc", "docid_desc"):
        # docid rankers (ranking_function_docid.c): set_rsv, not
        # add_rsv — the accumulation uses MAX, the value is purely
        # positional: N−docid (ascending output) or docid+1
        if ranker == "docid_asc":
            vals = (np.int64(n_docs) - docids).astype(np.int64)
        else:
            vals = (docids + 1).astype(np.int64)
        return "fixed", docids, vals
    if ranker in ("bm25t", "bm25adpt"):
        # adaptive-k1 BM25s (ranking_function_bm25t.c:128-165,
        # ranking_function_bm25adpt.c:198-233): k1 (and for adpt the
        # idf = IG[1]) were solved per term in the pre-pass
        # (SearchEngine._adaptive_k1_map) from the term's whole
        # posting distribution; scoring is then the plain BM25 shape.
        from atire_spark.kernels.adaptive_k1 import BM25ADPT_B, BM25T_B

        k1_t, idf_t = term_aux[row.term]
        bt = BM25T_B if ranker == "bm25t" else BM25ADPT_B
        c_prime = tf_d / (1.0 - bt + bt * (len_d / mean_len))
        f_prime = ((k1_t + 1.0) * c_prime) / (k1_t + c_prime)
        return "float", docids, f_prime * idf_t
    if ranker in ("dph", "dlh13"):
        cf_d = np.float64(int(row.cf))
        ok = tf_d < len_d  # (1-f) > 0; == makes log2(0), C UB — skip
        f = tf_d / len_d
        with np.errstate(divide="ignore", invalid="ignore"):
            core = tf_d * _log2((tf_d * mean_len / len_d) * (n_docs / cf_d)) + (
                0.5 * _log2(2.0 * np.pi * tf_d * (1.0 - f))
            )
            if ranker == "dph":
                norm = (1.0 - f) * (1.0 - f) / (tf_d + 1.0)
                rsv = 1.0 * norm * core
            else:
                # dlh13 adds a flat +10.0 AFTER the formula
                # (ranking_function_dlh13.c:46 ``score += 10.0``) —
                # binary-verified; it shifts cross-doc ranking when
                # docs match different numbers of query terms
                rsv = 1.0 * core / (tf_d + 0.5) + 10.0
        return "float", docids[ok], rsv[ok]
    if idf == 0.0:
        # conjunctive bm25 with a universal term: required hit, 0 score
        return "fixed", docids, np.zeros(docids.size, dtype=np.int64)
    priors = (
        k1 * ((1.0 - b) + b * (len_d / mean_len))
    ).astype(np.float32)
    rsv = idf * ((tf_d * (k1 + 1.0)) / (tf_d + priors.astype(np.float64)))
    return "float", docids, rsv


def _zero_rsv_rework(contrib, nz, unit, unit_p, weight, first) -> None:
    """Exact ``is_zero_rsv`` emulation for the prior-carrying LM
    rankers (lmds / lmp / lmptfidf).

    The vectorized fold assumes the doc-length prior fires exactly once
    — on the doc's first occurrence (lmds.c:110-115 checks the
    ACCUMULATOR, not a first-hit flag). When a contribution truncates
    to zero the accumulator stays at zero, so the prior REFIRES on the
    next occurrence; and an interior prefix wrapping to exactly zero
    refires it too. Detect the (rare) docs the fold cannot represent
    and replay them occurrence-by-occurrence, patching ``contrib`` and
    ``nz`` in place so the downstream per-doc sum stays unchanged.

    The arrays are one query's rows sorted by (docid, term order):
    ``contrib`` folded (see :func:`_fold_prior`), ``first`` marks each
    doc's first row.
    """
    n = contrib.size
    if n == 0:
        return
    # prefix sum BEFORE each row, restarting per doc
    cs = np.cumsum(contrib)
    grp_id = np.cumsum(first) - 1  # 0-based doc index per row
    first_idx = np.flatnonzero(first)
    base = (cs[first_idx] - contrib[first_idx])[grp_id]
    prefix_before = cs - contrib - base
    flagged_rows = (
        (unit % ACCUM_MOD == 0)
        | (unit_p % ACCUM_MOD == 0)
        | ((prefix_before % ACCUM_MOD == 0) & ~first)
    )
    if not flagged_rows.any():
        return
    ends = np.append(first_idx[1:], n)
    for g in np.unique(grp_id[flagged_rows]):
        lo, hi = int(first_idx[g]), int(ends[g])
        acc16 = 0
        hit = False
        for i in range(lo, hi):
            for _ in range(int(weight[i])):
                occ = unit_p[i] if acc16 == 0 else unit[i]
                if occ % ACCUM_MOD != 0:
                    hit = True
                acc16 = int((acc16 + occ) % ACCUM_MOD)
        # collapse the doc's rework into its first row
        contrib[lo:hi] = 0
        contrib[lo] = acc16
        nz[lo:hi] = False
        nz[lo] = hit


def _fold_prior(pieces) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One query's occurrences under a prior-carrying LM ranker (lmds,
    lmp, lmptfidf) → (docid, contrib, nz), sorted by docid.

    ``pieces`` holds one ``(docids, (cf, term), unit, unit_p, weight)``
    per matched segment: ``unit_p`` is a hit that finds the accumulator
    at zero and so carries the document prior, ``unit`` any later hit.
    Terms are processed in the reference's ascending collection
    frequency order, ties by term (atire_api.c:961-968), so a doc's
    first row in that order carries the prior once (is_zero_rsv,
    ranking_function_lmds.c:110-115): its first occurrence adds
    ``unit_p`` and the other w−1 add ``unit``; a later term adds
    ``unit·w``. A doc enters the candidates on its first nonzero
    occurrence (``nz``). :func:`_zero_rsv_rework` replays the docs
    this fold cannot represent.
    """
    tags = {t: i for i, t in enumerate(sorted({p[1] for p in pieces}))}
    sizes = [p[0].size for p in pieces]
    docid = np.concatenate([p[0] for p in pieces])
    tag = np.repeat([tags[p[1]] for p in pieces], sizes)
    unit = np.concatenate([p[2] for p in pieces])
    unit_p = np.concatenate([p[3] for p in pieces])
    weight = np.repeat([p[4] for p in pieces], sizes).astype(np.int64)
    order = np.lexsort((tag, docid))
    docid, unit, unit_p, weight = docid[order], unit[order], unit_p[order], weight[order]
    first = np.ones(docid.size, dtype=bool)
    first[1:] = docid[1:] != docid[:-1]
    contrib = np.where(first, unit_p + (weight - 1) * unit, unit * weight)
    nz = np.where(first, (unit_p != 0) | ((weight > 1) & (unit != 0)), unit != 0)
    _zero_rsv_rework(contrib, nz, unit, unit_p, weight, first)
    return docid, contrib, nz


def _reduce_topk(
    docid: np.ndarray,
    contrib: np.ndarray,
    nz: np.ndarray,
    k: int,
    reduce=np.add,
    need: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """One query's accumulator → its top-k (docids, rsv_fixed) in rank
    order: rsv_fixed desc, tie larger docid first
    (search_engine_accumulator.h:36-42).

    ``docid`` is sorted and non-empty; ``contrib`` and ``nz`` are
    parallel per-occurrence arrays. Each docid's contributions reduce
    with ``reduce`` (``np.add``; ``np.maximum`` for the docid rankers,
    whose set_rsv overwrites with the same positional value), then take
    the signed 16-bit accumulator view (:func:`accum_value`). A doc is a
    candidate when any of its occurrences was nonzero (add_rsv's 0 →
    nonzero transition, search_engine_result.h), or, with ``need`` (the
    conjunctive "allterms" mode), when it was hit by at least ``need``
    rows (distinct query terms). The top k are the values at or above
    the k-th largest (``np.partition``), ordered by one lexsort.
    """
    first = np.ones(docid.size, dtype=bool)
    first[1:] = docid[1:] != docid[:-1]
    starts = np.flatnonzero(first)
    rsv = accum_value(reduce.reduceat(contrib, starts))
    if need is None:
        keep = np.maximum.reduceat(nz, starts)
    else:
        keep = np.diff(np.append(starts, docid.size)) >= need
    docid, rsv = docid[starts][keep], rsv[keep]
    if 0 < k < rsv.size:
        top = rsv >= np.partition(rsv, rsv.size - k)[rsv.size - k]
        docid, rsv = docid[top], rsv[top]
    order = np.lexsort((-docid, -rsv))[: max(k, 0)]
    return docid[order], rsv[order]


def _topk_frame(per_q: dict[int, tuple]) -> pd.DataFrame:
    """{query_id: (docids, rsv_fixed)} → one (query_id, docid,
    rsv_fixed) frame, ordered by (query_id, rank)."""
    qids = sorted(per_q)
    none = [np.empty(0, dtype=np.int64)]
    return pd.DataFrame(
        {
            "query_id": np.repeat(
                np.asarray(qids, dtype=np.int64), [per_q[q][0].size for q in qids]
            ),
            "docid": np.concatenate(none + [per_q[q][0] for q in qids]),
            "rsv_fixed": np.concatenate(none + [per_q[q][1] for q in qids]),
        }
    )


from dataclasses import dataclass as _dataclass

# NEXI query lexer (reference nexi.c:191-253 ``get_next_token`` +
# nexi.c:92-186 ``ispart``). The NEXI lexer is intentionally DIFFERENT
# from the document tokenizer: a token starting with an XML
# name-start character (letter / '_' / ':') runs over the XML NameChar
# set (letters, digits, '.', '-', '_', ':') plus "'" (apostrophes,
# ispart's "don't tell me" case) — so ``cat2``/``cat.dog``/``don't``
# are each ONE query token even though the document side indexes them
# split. Digit tokens run over digits only; '-' followed by a digit
# takes the whole negative number; '/' pairs into '//'; '.','(','|',')'
# are always single-char; any other single-byte punctuation is its own
# token; whitespace and multi-byte symbols are skipped. All behaviors
# verified against the compiled reference binary (reference_ab.py).
from atire_spark.kernels.tokenizer import _CJK as _CJK_RANGES
from atire_spark.kernels.tokenizer import _CJK_RUN_RE

_CJK_CHAR_RE = re.compile(rf"[{_CJK_RANGES}]")


def _is_cjk_char(c: str) -> bool:
    return _CJK_CHAR_RE.match(c) is not None


def _is_mark(c: str) -> bool:
    import unicodedata

    return ord(c) > 127 and unicodedata.category(c).startswith("M")


_NAME_CONT = frozenset("._:-'")


def _nexi_lex(text: str, cjk_runs: bool = False) -> list[str]:
    """Tokenize a NEXI query exactly as get_next_token does.

    ``cjk_runs=True`` keeps CJK runs whole for a query-time segmenter
    plugin (the reference's segmentation=FALSE path, ispart
    nexi.c:125-141); the default emits single CJK chars like the
    unsegmented index side.
    """
    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        # skip whitespace and multi-byte non-letter/-digit/-CJK symbols
        # (get_next_token's skip loop: single-byte non-space chars all
        # START a token, nexi.c:222-235)
        if c.isspace() or (
            ord(c) > 127
            and not (c.isalpha() or c.isdigit())
            and not _is_cjk_char(c)
        ):
            i += 1
            continue
        start = i
        if _is_cjk_char(c):
            i += 1
            if cjk_runs:
                while i < n and _is_cjk_char(text[i]):
                    i += 1
        elif c in ".(|)":
            i += 1
        elif c == "-":
            i += 1
            if i < n and text[i].isdigit():  # negative numbers
                while i < n and text[i].isdigit():
                    i += 1
        elif c == "/":
            i += 2 if text[i : i + 2] == "//" else 1
        elif c.isalpha() or c in "_:":
            # XML name: NameChar continuation + '-' and apostrophes.
            # XML NameChar includes CombiningChar, so a standalone
            # combining mark (NFD text) stays INSIDE a query token —
            # unlike the document parser, where it splits the run; the
            # un-normalizable mark then makes the term a vocabulary
            # miss, exactly the compiled reference's observable
            # (probe: NFD "cégurei" query scores nothing even with
            # ce/gurei/cegurei all indexed)
            i += 1
            while i < n and not _is_cjk_char(text[i]) and (
                text[i].isalpha()
                or text[i].isdigit()
                or text[i] in _NAME_CONT
                or _is_mark(text[i])
            ):
                i += 1
        elif c.isdigit():
            i += 1
            while i < n and text[i].isdigit() and not _is_cjk_char(text[i]):
                i += 1
        else:
            i += 1  # every other single-byte char is a one-char token
        toks.append(text[start:i])
    return toks


@_dataclass
class NEXITerm:
    """One parsed CO query term (reference NEXI_term.h:15-31)."""

    term: str
    sign: int = 0  # +1 / -1 for "+term" / "-term", else 0
    tf_weight: float = 1.0  # PRESCALAR (always 1 from the parser)
    rsv_weight: float = 1.0  # POSTSCALAR (feedback sets KL scores)


def _fold_term(tok: str) -> str:
    """Query-term normalization (atire_api.c:610-675
    ``string_pair_to_term`` with case_fold): a term whose characters
    are ALL uppercase is a tag name for the bag-of-tags approach and
    is kept verbatim (our untagged indexes hold no tag terms, so it
    matches nothing — same observable as the reference on a corpus
    whose only tags have df==N); anything else runs the SAME
    per-character normalize as the indexer —
    ``ANT_UNICODE_normalize_lowercase_toutf8`` (atire_api.c:654):
    decompose, drop combining marks, lowercase — so an accented query
    spelling (``baçedï``) reaches the normalized vocabulary entry
    (``bacedi``) exactly like the reference. ASCII terms see a plain
    lower(); digits are not uppercase, so ``TERM00003`` folds to
    ``term00003`` (and then misses the vocabulary, which holds the
    document tokenizer's split ``term``/``00003``) — verified against
    the binary in reference_ab.py (ASCII + unicode fuzz)."""
    if tok and all(c.isupper() for c in tok):
        return tok
    from atire_spark.kernels.unorm import normalize_word

    return normalize_word(tok)


def _is_phraseless_term(tok: str) -> bool:
    """read_phraseless_term acceptance (nexi.c:385-407): XML
    name-start, letter, number, or '-'-prefixed (len>1) tokens."""
    c = tok[0]
    return c.isalpha() or c.isdigit() or c in "_:" or (c == "-" and len(tok) > 1)


def _read_phrase(toks: list[str], i: int) -> tuple[str, int, bool]:
    """read_phrase (nexi.c:410-431): consume phraseless terms after the
    opening quote; the next token must be the closing quote or the
    query dies with ERROR_INVALID_PHRASE. The phrase becomes ONE term
    spanning open quote to close quote — it contains '"' so it can
    never match the vocabulary and contributes nothing to ranked
    scoring (verified: ``sat "dog"`` scores only ``sat``)."""
    j = i + 1
    inner: list[str] = []
    while j < len(toks) and _is_phraseless_term(toks[j]):
        inner.append(toks[j])
        j += 1
    if j >= len(toks) or toks[j] != '"':
        return "", j, False
    return '"' + " ".join(inner) + '"', j + 1, True


def parse_nexi_co(
    text: str, cjk_segmenter=None
) -> tuple[list["NEXITerm"], str]:
    """NEXI CO parse (reference nexi.c:437-505 ``read_CO`` +
    NEXI_ant.c:12-35 ``parse``). Returns (terms, error_code); a query
    whose error_code is not ERROR_NONE is NEVER RUN by the reference
    (atire_api.c checks get_error() before searching), so callers must
    produce zero rows for it.

    Binary-verified semantics (reference_ab.py probes):

    - ``+``/``-`` single-char tokens sign the NEXT term (nexi.c:
      453-465); the sign is recorded but ranked search scores the bare
      term (``+cat dog`` ranks like ``cat dog``); a sign with no valid
      following term is ERROR_MISSING_TERM (query killed: ``sat -`` →
      0 hits);
    - a phrase is one inert verbatim term (see :func:`_read_phrase`);
      an unclosed quote is ERROR_INVALID_PHRASE (``sat "dog`` → 0);
    - any other punctuation token sets more=FALSE and the LEFTOVER
      token makes the whole query ERROR_PREMATURE_END_OF_QUERY
      (NEXI_ant.c:27-28): ``sat, dog`` → 0 hits, not "sat" alone;
    - terms fold per :func:`_fold_term`; NEXI weights default 1
      (nexi.c:36-74 get_NEXI_term).
    """
    toks = _nexi_lex(text or "", cjk_runs=cjk_segmenter is not None)
    out: list[NEXITerm] = []
    i, n = 0, len(toks)

    def emit(tok: str, sign: int) -> None:
        if cjk_segmenter is not None and _CJK_RUN_RE.match(tok):
            # query-time plugin segmentation — same dictionary as the
            # index side (the reference loads the same plugin)
            for w in cjk_segmenter(tok):
                out.append(NEXITerm(term=_fold_term(w), sign=sign))
                sign = 0
        else:
            out.append(NEXITerm(term=_fold_term(tok), sign=sign))

    while i < n:
        tok = toks[i]
        if len(tok) == 1:
            if tok == '"':
                phrase, j, ok = _read_phrase(toks, i)
                if not ok:
                    return out, "ERROR_INVALID_PHRASE"
                out.append(NEXITerm(term=_fold_term(phrase), sign=0))
                i = j
                continue
            if tok in "+-":
                sign = 1 if tok == "+" else -1
                if i + 1 < n:
                    nxt = toks[i + 1]
                    if nxt == '"':
                        phrase, j, ok = _read_phrase(toks, i + 1)
                        if not ok:
                            return out, "ERROR_INVALID_PHRASE"
                        out.append(NEXITerm(term=_fold_term(phrase), sign=sign))
                        i = j
                        continue
                    if _is_phraseless_term(nxt) or _is_cjk_char(nxt[0]):
                        emit(nxt, sign)
                        i += 2
                        continue
                # read_term failed: ERROR_MISSING_TERM, query killed
                return out, "ERROR_MISSING_TERM"
            if not (tok.isalpha() or tok.isdigit()):
                break  # more = FALSE (nexi.c:470-479)
            emit(tok, 0)
            i += 1
            continue
        # multi-char token: a term iff it starts with a letter/digit/
        # CJK char or is a '-'-number (nexi.c:481-488); name-start
        # punctuation ('_'/':' starts) and '~'-terms STOP the scan
        c = tok[0]
        if c.isalpha() or c.isdigit() or _is_cjk_char(c) or c == "-":
            emit(tok, 0)
            i += 1
            continue
        break  # more = FALSE
    if i < n:
        # unconsumed trailing token → the reference refuses the query
        return out, "ERROR_PREMATURE_END_OF_QUERY"
    return out, "ERROR_NONE"


def parse_nexi(text: str, cjk_segmenter=None) -> list[NEXITerm]:
    """NEXI CO parse; an errored query yields NO terms — the reference
    never runs it (NEXI_ant.c:27-28 + atire_api.c error gate), so the
    observable is zero result rows. Use :func:`parse_nexi_co` to see
    the error code."""
    terms, err = parse_nexi_co(text, cjk_segmenter)
    return terms if err == "ERROR_NONE" else []


NEXI_ERROR_NONE = "ERROR_NONE"


class _CASParser:
    """Token-cursor CAS parser (nexi.c:510-567 ``read_CAS`` +
    ``about()``/``numbers()``/``read_path``, NEXI_ant.c:12-35
    dispatch). Ranked retrieval scores the extracted about-clause term
    bags; the element paths would drive INEX focusing (documented out
    of scope on the untagged corpus). ``parse_error`` records the LAST
    error code, as the reference's assignment does (nexi.c:293-300);
    a query whose error is not ERROR_NONE is never run
    (atire_api.c:1229-1230)."""

    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0
        self.token = toks[0] if toks else ""
        self.error = NEXI_ERROR_NONE
        self.terms: list[NEXITerm] = []

    def next(self) -> str:
        self.i += 1
        self.token = self.toks[self.i] if self.i < len(self.toks) else ""
        return self.token

    def err(self, code: str) -> None:
        self.error = code

    def read_path(self) -> str:
        """read_path (nexi.c:259-285): the start token unconditionally,
        then XML-name-start tokens, "//", or the "(|)*@" set."""
        parts = [self.token]
        while True:
            t = self.next()
            if t and (
                t[0].isalpha()
                or t[0] in "_:"
                or t == "//"
                or t[0] in "(|)*@"
            ):
                parts.append(t)
                continue
            break
        return "".join(parts)

    def read_co(self) -> None:
        """read_CO on the token cursor — the SAME routine the CO path
        uses (nexi.c:437-505): signs set the next term's sign
        (recorded; ranked search scores bare terms), a phrase becomes
        ONE inert verbatim term (see :func:`_read_phrase`), any other
        punctuation stops the scan with the token left at the
        stopper."""
        while True:
            t = self.token
            if t == "":
                return
            if t == '"':
                inner: list[str] = []
                nt = self.next()
                while nt and _is_phraseless_term(nt):
                    inner.append(nt)
                    nt = self.next()
                if self.token != '"':
                    self.err("ERROR_INVALID_PHRASE")
                    return
                self.terms.append(
                    NEXITerm(
                        term=_fold_term('"' + " ".join(inner) + '"'), sign=0
                    )
                )
                self.next()
                continue
            if t in ("+", "-"):
                sign = 1 if t == "+" else -1
                nt = self.next()
                if nt and (_is_phraseless_term(nt) or _is_cjk_char(nt[0])):
                    self.terms.append(NEXITerm(term=_fold_term(nt), sign=sign))
                else:
                    # reference: parse_error then the bad token is
                    # still appended and the scan continues
                    # (nexi.c:455-465,481)
                    self.err("ERROR_MISSING_TERM")
                    if nt:
                        self.terms.append(
                            NEXITerm(term=_fold_term(nt), sign=sign)
                        )
                self.next()
                continue
            if t[0].isalpha() or t[0].isdigit() or _is_cjk_char(t[0]) or (
                t[0] == "-" and len(t) > 1
            ):
                self.terms.append(NEXITerm(term=_fold_term(t), sign=0))
                self.next()
                continue
            return

    def about(self) -> None:
        """about() (nexi.c:306-334): '(' path ',' CO-terms ')'."""
        self.next()
        if self.token != "(":
            self.err("ERROR_MISSING_OPEN_ROUND_BRACKET")
        self.next()
        self.read_path()
        if self.token != ",":
            self.err("ERROR_MISSING_COMMA")
        self.next()
        self.read_co()
        if self.token != ")":
            self.err("ERROR_MISSING_CLOSE_ROUND_BRACKET")

    def numbers(self) -> None:
        """numbers() (nexi.c:343-358): '.path op value' — the value
        token becomes a term node (the operator is read and, like the
        reference, not yet acted on)."""
        self.read_path()
        while self.token and self.token[0] in "<>=":
            self.next()
        if self.token:
            self.terms.append(NEXITerm(term=_fold_term(self.token), sign=0))

    def parse_cas(self) -> None:
        while True:
            path = self.read_path()
            if len(path) < 3 or not path.startswith("//"):
                self.err("ERROR_MISSING_DOUBLE_SLASH")
            if self.token == "[":
                while True:
                    self.next()
                    if self.token == "about":
                        self.about()
                    elif self.token == ".":
                        self.numbers()
                    else:
                        self.err("ERROR_MISSING_ABOUT_CLAUSE")
                    self.next()
                    if self.token not in ("or", "and", "OR", "AND"):
                        break
                if self.token != "]":
                    self.err("ERROR_MISSING_CLOSE_SQUARE_BRACKET")
                self.next()
            elif self.token != "":
                self.err("ERROR_MISSING_OPEN_SQUARE_BRACKET")
            if self.token == "":
                return


def parse_nexi_cas(text: str) -> tuple[list[NEXITerm], str]:
    """Parse a NEXI CAS query (``//path[about(.//tag, terms)]``),
    degrading to the about-clause term bag exactly as the reference's
    ranked (non-focused) retrieval does. Returns (terms, error_code);
    error_code != ERROR_NONE means the reference would refuse to run
    the query (atire_api.c:1229-1230). The CO/CAS dispatch on a
    leading "//" mirrors NEXI_ant.c:22-25. Tokens come from the same
    :func:`_nexi_lex` the CO path uses (get_next_token is shared)."""
    toks = _nexi_lex(text or "")
    p = _CASParser(toks)
    if not toks:
        return [], NEXI_ERROR_NONE
    p.parse_cas()
    return p.terms, p.error


def parse_query(
    text: str, stemmer: str | None = None, cjk_segmenter=None
) -> list[tuple[str, int]]:
    """Query string → [(term, multiplicity)] via the NEXI CO scan.

    An errored parse (premature end / invalid phrase / missing term)
    yields NO terms — the reference refuses to run such queries. A
    phrase is one inert verbatim term (contains '"', never matches the
    vocabulary). A repeated term is scored once per occurrence —
    bagging with multiplicity adds the identical contribution the
    reference adds processing each chain entry separately
    (binary-verified: ``a a`` doubles rsv). Signs are parsed but do
    not change ranked scoring, like the reference.

    ``stemmer`` applies the query-side stemming gate
    (search_engine.c:775-779) to each token before bagging — but only
    to terms whose FIRST character is an ASCII lowercase letter:
    "we don't stem (or expand) numbers and tag names"
    (atire_api.c:861,913 ``!ANT_islower(*token_buffer)``), so digit
    terms, all-uppercase tag terms, '-'-numbers, and inert phrase
    terms pass through verbatim.
    """
    terms = (t.term for t in parse_nexi(text, cjk_segmenter))
    if stemmer is None:
        return list(Counter(terms).items())
    from atire_spark.kernels.stem import query_stem

    return list(Counter(query_stem(t, stemmer) for t in terms).items())


def _grouped_topk(
    batches: Iterator,
    *,
    qmap: dict[str, list[tuple[int, int, float]]],
    nq: dict[int, float],
    n_terms_per_q: dict[int, int],
    k: int,
    ranker: str,
    conjunctive: bool,
    trim_for: dict[tuple[int, str], int] | None,
    term_aux: dict | None,
    n_docs: int,
    mean_len: float,
    coll_len: int,
    quantized: bool,
    codec: str,
) -> Iterator[pd.DataFrame]:
    """The grouped BM25 scorer: matched segment rows → each query's
    top-k candidates (query_id, docid, rsv_fixed), ordered by
    (query_id, rank).

    ``batches`` are pandas frames (a mapInPandas task) or Arrow tables
    (the resident rows); rows are read by column (:func:`_seg_rows`).
    Each segment decodes once and fans out to every query holding its
    term, as (docids, contributions) arrays. Per query, the arrays are
    concatenated, sorted by docid and reduced with numpy
    (:func:`_reduce_topk`); lmds first folds its document prior into
    each doc's first term (:func:`_fold_prior`).

    Exact for every docid whose matched segments all arrive in
    ``batches``: a task of the distributed placement (rows co-located
    on seg_group) or the driver placement (every matched row). See
    :meth:`SearchEngine._search_grouped`.
    """
    lmds = ranker == "lmds"
    docid_ranker = ranker in ("docid_asc", "docid_desc")
    per_q: dict[int, list[tuple]] = {}
    for batch in batches:
        for row in _seg_rows(batch, cum_before=bool(trim_for)):
            # one decode per distinct trim value of this segment
            # (None = full decode); trims are rare
            decs: dict[int | None, object] = {}
            for qid, weight, post in qmap[row.term]:
                tr = trim_for.get((qid, row.term)) if trim_for else None
                if tr not in decs:
                    tk = None
                    if tr is not None:
                        # take to the trim point: cum_before is the
                        # term-global read position at this quantum
                        cnt = np.asarray(row.doc_counts, dtype=np.int64)
                        before = np.asarray(row.cum_before, dtype=np.int64)
                        tk = np.minimum(cnt, np.maximum(tr - before, 0))
                    decs[tr] = _segment_contrib(
                        row, ranker, conjunctive, quantized,
                        n_docs, mean_len, coll_len,
                        take_counts=tk, term_aux=term_aux,
                        codec=codec,
                    )
                dec = decs[tr]
                if dec is None:
                    continue
                if lmds:
                    _, docids, rsv, prior, cf = dec
                    unit = 1 + ((rsv * post) * 100.0).astype(np.int64)
                    unit_p = 1 + (((rsv + nq[qid] * prior) * post) * 100.0).astype(np.int64)
                    piece = (docids, (cf, row.term), unit, unit_p, weight)
                else:
                    docids, contrib = _per_query_contrib(dec, nq[qid], post)
                    # add_rsv transitions a doc into the candidate list
                    # only when the contribution is nonzero
                    # (search_engine_result.h) — per occurrence, so
                    # test before the weight multiplies it; the docid
                    # rankers' set_rsv value is positional, unweighted
                    piece = (docids, contrib if docid_ranker else contrib * weight, contrib != 0)
                per_q.setdefault(qid, []).append(piece)
    top: dict[int, tuple] = {}
    for qid, pieces in per_q.items():
        if lmds:
            docid, contrib, nz = _fold_prior(pieces)
        else:
            docid, contrib, nz = (np.concatenate(a) for a in zip(*pieces))
            order = np.argsort(docid)
            docid, contrib, nz = docid[order], contrib[order], nz[order]
        if docid.size:
            top[qid] = _reduce_topk(
                docid, contrib, nz, k,
                reduce=np.maximum if docid_ranker else np.add,
                need=n_terms_per_q[qid] if conjunctive else None,
            )
    yield _topk_frame(top)


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index: IndexTables,
        stemmer: str | None = "auto",
        cjk_segmenter=None,
    ):
        """The reference's -M in-memory index mode
        (search_engine.c:52-55) is chosen from the index's size, not
        by a flag: an index of at most :data:`RESIDENT_MAX_POSTINGS`
        tokens is held on the driver (:class:`_Resident`), loaded by
        its first query or name lookup, and every untrimmed batch of
        the grouped scorer is scored there without a Spark job (see
        :meth:`_search_grouped`). A larger one stays on storage and
        every batch runs distributed, where the pushed-down term
        ``isin`` filter prunes parquet/Iceberg files per query — at
        10^12 docs the postings table fits in no memory.

        ``stemmer="auto"`` follows the index's recorded ``~stemmer``
        (memory_index.c:1487-1521); passing an explicit stemmer that
        differs from the index's is rejected — querying a stemmed
        index with the wrong stemmer silently misses terms in the
        reference, we refuse instead.

        ``cjk_segmenter``: the same ONFLY plugin callable the index
        was built with (the reference loads the plugin in the search
        engine too) — query CJK runs segment identically."""
        self.spark = spark
        self.cjk_segmenter = cjk_segmenter
        self.index = index
        row = index.stats.collect()[0].asDict()
        self.stats_row = row
        self.n_docs = int(row["documents"])
        # an all-empty collection's stats row carries NULL sums/means
        # (aggregates over zero docmap rows); searching such an index
        # must return empty results, not crash at engine construction
        self.collection_len = int(row["collection_len"] or 0)
        self.unique_terms = int(row.get("unique_terms", 0) or 0)  # ~uniqueterms
        self.codec = row.get("codec") or "vbyte"  # posting-stream codec
        self.mean_doc_len = float(row["mean_doc_len"] or 0.0)
        self.quantized = bool(row.get("quantized", 0))
        self.quant_bits = int(row.get("quant_bits", 0) or 0)
        index_stemmer = row.get("stemmer") or None
        if stemmer == "auto":
            self.stemmer = index_stemmer
        elif stemmer != index_stemmer:
            raise ValueError(
                f"index was built with stemmer {index_stemmer!r}, query "
                f"requested {stemmer!r} (~stemmer mismatch)"
            )
        else:
            self.stemmer = stemmer
        self.postings = index.postings
        # see _resident
        self._resident_index: _Resident | None = None
        self._resident_lock = threading.Lock()
        # stemmer → persisted (term, stem, cprefix) vocabulary map;
        # see precompute_stem_classes
        self._stem_class_tables: dict[str, DataFrame] = {}
        # persisted conflation intermediates backing the most recent
        # stem-iterator result frame (released on the next call)
        self._iter_conf_cache: list[DataFrame] = []
        # driver caches over pure functions of the immutable index:
        # (stemmer, base) → sorted class members; (base, cand) → sim;
        # member signature → conflated df (see _stemmed_iter_score)
        self._class_member_cache: dict[tuple[str, str], list[str]] = {}
        self._pair_sim_cache: dict[tuple[str, str], float] = {}
        self._class_df_cache: dict[tuple, int] = {}
        # term → [(impact, n_docs)] level histogram (WAND phase 1)
        self._wand_levels_cache: dict[str, list[tuple[int, int]]] = {}

    # ------------------------------------------------------------------
    def search_one(self, query: str, k: int = 10) -> DataFrame:
        return self.search_batch([(1, query)], k)

    def _with_trim_cum(self, hits: DataFrame) -> DataFrame:
        """Attach a ``cum_before`` array column (aligned with
        ``impacts``) to every segment row: the count of the term's
        postings in all quantums that sort STRICTLY BEFORE this one in
        global impact-descending order (within an impact value the
        segments' docid ranges ascend) — the reference's read cursor
        position when it reaches the quantum (search_engine.c:
        1040-1070). The per-quantum take for a trim point ``K`` is then
        pure worker-side arithmetic, ``min(count, max(K - cum_before,
        0))``: whole quantums decode until the trim point and the
        crossing quantum truncates mid-stream, identical to the
        reference's partial read.

        Fully distributed: per-term exclusive prefix sums run in a
        metadata-only ``applyInPandas`` (impacts[], doc_counts[] —
        posting bytes never move), then join back on the narrow
        (term, seg_group) key. Nothing is collected to the driver, so
        there is no metadata row limit at any collection size; the
        widest task holds one head term's impact headers (~segments ×
        quantums ints), the same working set the reference's in-RAM
        header walk touches.
        """
        meta = hits.select("term", "seg_group", "impacts", "doc_counts")

        def cum_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            per_row = pdf["impacts"].map(len).to_numpy(np.int64)
            sg = np.repeat(pdf["seg_group"].to_numpy(np.int64), per_row)
            if per_row.sum():
                imp = np.concatenate(
                    [np.asarray(x, np.int64) for x in pdf["impacts"]]
                )
                cnt = np.concatenate(
                    [np.asarray(x, np.int64) for x in pdf["doc_counts"]]
                )
                gi = np.concatenate(
                    [np.arange(n, dtype=np.int64) for n in per_row]
                )
            else:
                imp = cnt = gi = np.empty(0, dtype=np.int64)
            order = np.lexsort((gi, sg, -imp))
            cum = np.empty(len(order), dtype=np.int64)
            c = np.concatenate(([0], np.cumsum(cnt[order])[:-1]))
            cum[order] = c
            bounds = np.cumsum(per_row)[:-1]
            return pd.DataFrame(
                {
                    "term": pdf["term"],
                    "seg_group": pdf["seg_group"],
                    "cum_before": np.split(cum, bounds),
                }
            )

        cum_df = meta.groupBy("term").applyInPandas(
            cum_fn,
            schema="term string, seg_group long, cum_before array<long>",
        )
        return hits.join(cum_df, ["term", "seg_group"])

    def check_ranker(self, ranker: str) -> None:
        """Raise ValueError when ``ranker`` cannot run on this index —
        the checks :meth:`search_batch` makes before planning anything,
        so a caller can validate a ranker name without a Spark job."""
        if ranker not in KNOWN_RANKERS:
            # the reference factory rejects unknown names
            # (ranking_function_factory.c:121-160 falls through to an
            # error); falling back to BM25 silently would be worse
            raise ValueError(f"unknown ranking function {ranker!r}")
        if self.quantized and ranker != "bm25":
            raise ValueError(
                "cannot set ranking function: the index is quantized "
                "(atire_api.c:477)"
            )
        if ranker in ("lmp", "lmptfidf") and self.index.puurula is None:
            raise ValueError(
                "This index does not contain the Puurula length "
                "vectors, reindex using -Ilmp "
                "(ranking_function_puurula.c:39-41)"
            )

    def search_batch(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        ranker: str = "bm25",
        conjunctive: bool = False,
        parsed_terms: dict[int, list[tuple[str, int, float]]] | None = None,
        trim_postings_k: int | None = None,
        single_term_prune: bool = False,
    ) -> DataFrame:
        """Run a batch of (query_id, text) → top-k DataFrame.

        Columns: query_id, rank, docid, rsv_fixed, rsv (rsv is the
        fixed-point accumulator scaled back to a display double, the
        rank-identical comparable is rsv_fixed).

        ``ranker`` (reference ranking_function_factory.c:38-71):
        ``bm25`` (default), ``termcount``, ``inner``, ``lmd``,
        ``lmds``, ``lmjm``, ``bm25l``, ``bm25plus``, ``dph``,
        ``dlh13`` — formulas in :func:`_segment_contrib`. A quantized
        index only supports its baked-in scores — the reference
        refuses other rankers there (atire_api.c:472-478).

        ``conjunctive=True`` is the reference's "allterms" mode
        (search_engine.c:1491-1511): only documents containing *every*
        distinct query term survive, ranked by the chosen scorer.

        ``parsed_terms`` overrides query parsing: {query_id: [(term,
        multiplicity, postscalar)]} — the relevance-feedback path
        passes expansion terms with their KL score as the postscalar
        (atire_api.c:1334-1336); normal queries parse from text with
        postscalar 1.

        ``trim_postings_k`` is the reference's read-side trim
        (-K query side, search_engine.c:938-963): each term decodes
        only its first ``trim`` postings in global impact order, the
        crossing quantum cut mid-stream. ``single_term_prune=True``
        additionally trims 1-term queries at ``k``
        (atire_api.c:989-997). Both are results-changing heuristics
        (documents past the trim point get no score); the reference
        applies the single-term prune unconditionally — here it is
        opt-in so the default path stays exact-evaluation.

        On a resident index an untrimmed batch is scored in the driver
        and comes back as a driver-local frame, with no Spark job once
        the index is loaded; any other batch returns a lazy
        distributed plan — see :meth:`_search_grouped`. A batch with
        no terms costs no job. A driver-local frame costs no job when
        read with ``collect()`` but one with ``toPandas()``, which
        goes through Spark's Arrow collect path: a caller that wants
        pandas rows should call :meth:`search_ranked`.
        """
        res = self._search(
            queries, k, ranker, conjunctive, parsed_terms,
            trim_postings_k, single_term_prune,
        )
        return _local_result(self.spark, res) if isinstance(res, pd.DataFrame) else res

    def search_ranked(
        self, queries: list[tuple[int, str]], k: int = 10, ranker: str = "bm25"
    ) -> pd.DataFrame:
        """:meth:`search_batch`'s rows as a driver pandas frame, ordered
        by (query_id, rank), for a caller that reads them itself (the
        server). A batch scored on the driver (a resident index) skips
        the Spark local frame; a distributed result is collected."""
        res = self._search(queries, k, ranker)
        if isinstance(res, DataFrame):
            res = pd.DataFrame.from_records(res.collect(), columns=_RESULT_ARROW.names)
        return res

    def names(self, docids: list[int]) -> dict[int, str]:
        """docid → document name (``conv_id:turn_idx``; the reference
        reads its doclist file, ours is the docmap). A resident index
        answers from the driver, with no Spark job once loaded; any
        other index reads the docids' docmap rows in one job. A docid
        without a docmap row is named by its number."""
        res = self._resident()
        if res is not None:
            found = res.names_of(docids)
        else:
            rows = (
                self.index.docmap.filter(F.col("docid").isin(docids))
                .select("docid", _doc_name())
                .collect()
            )
            found = {r["docid"]: r["name"] for r in rows}
        return {d: found.get(d, str(d)) for d in docids}

    def _resident(self) -> _Resident | None:
        """The resident index, loaded by its first caller (once, also
        under concurrent first requests), or None when the collection
        is longer than :data:`RESIDENT_MAX_POSTINGS`."""
        if self.collection_len > RESIDENT_MAX_POSTINGS:
            return None
        with self._resident_lock:
            if self._resident_index is None:
                self._resident_index = _Resident(self.index)
        return self._resident_index

    def _search(
        self, queries, k, ranker, conjunctive=False, parsed_terms=None,
        trim_postings_k=None, single_term_prune=False,
    ) -> pd.DataFrame | DataFrame:
        """:meth:`search_batch`: the ranked rows when the batch is
        scored on the driver, else a result DataFrame."""
        self.check_ranker(ranker)
        if (
            self.stemmer is not None
            and parsed_terms is None
            and ranker == "bm25"
            and not conjunctive
            and trim_postings_k is None
            and not single_term_prune
        ):
            # a stemmed index searches through the STEM ITERATOR, not a
            # direct post-stem lookup (atire_api.c:873
            # process_one_stemmed_search_term): each gated query term's
            # class — vocabulary terms sharing the class prefix that
            # re-stem to the query's stem — conflates into one tf
            # vector and ranks as a single term. This is ALSO how the
            # gate asymmetry resolves: the index keeps len<=3 words
            # unstemmed (index_document.c:103-111 stems only len>3)
            # while the query stems len>=3, so e.g. hungarian "end"
            # (query stem "en") only reaches the unstemmed vocabulary
            # entry "end" through the class walk. Binary-verified via
            # reference_ab.py stemmer variants.
            return self.search_stemmed_iterator(
                queries, stemmer=self.stemmer, k=k
            )
        if ranker in ("lmp", "lmptfidf") and (
            conjunctive or trim_postings_k is not None or single_term_prune
        ):
            # the reference likewise exits on unsupported lmp
            # combinations (e.g. quantum processing, puurula.c:62)
            raise ValueError("lmp/lmptfidf support only plain ranked search")
        # term → the (query, weight, postscalar) entries that hold it:
        # each matched segment is decoded once and fans out to every
        # query that contains its term via this closure map
        qmap: dict[str, list[tuple[int, int, float]]] = {}
        n_terms_per_q: dict[int, int] = {}
        nq: dict[int, float] = {}  # LM term count per query (chain length)
        parsed_by_q: dict[int, list[tuple[str, int, float]]] = {}
        for qid, text in queries:
            if parsed_terms is not None:
                parsed = parsed_terms.get(qid, [])
            else:
                parsed = [
                    (t, w, 1.0) for t, w in parse_query(text, self.stemmer, self.cjk_segmenter)
                ]
            parsed_by_q[qid] = parsed
            n_terms_per_q[qid] = len(parsed)
            nq[qid] = float(sum(w for _, w, _ in parsed))
            for term, weight, post in parsed:
                qmap.setdefault(term, []).append((qid, weight, post))
        if not qmap:
            return _rank_local(_topk_frame({}), k)

        # read-side trim points (search_engine.c:938-963): the global
        # -K read trim (``trim_postings_k``) plus the single-term
        # top-k prune (atire_api.c:989-997 — a 1-term query reads only
        # min(trim, k) postings off the impact-ordered list)
        trim_for: dict[tuple[int, str], int] = {}
        for qid, plist in parsed_by_q.items():
            eff = trim_postings_k
            if (
                single_term_prune
                and len(plist) == 1
                and plist[0][1] == 1  # one chain entry, not a repeat
            ):
                eff = k if eff is None else min(eff, k)
            if eff is not None:
                for term, _w, _p in plist:
                    trim_for[(qid, term)] = eff

        # the postings scan is planned only on a path that reads it
        if ranker in ("lmp", "lmptfidf"):
            return self._search_puurula(self._hits(qmap), qmap, nq, k, ranker)
        term_aux: dict | None = None
        if ranker in ("bm25t", "bm25adpt"):
            term_aux = self._adaptive_k1_map(self._hits(qmap), ranker)
        return self._search_grouped(
            qmap, nq, n_terms_per_q, k, ranker, conjunctive, trim_for, term_aux
        )

    def _hits(self, terms) -> DataFrame:
        """The postings rows of ``terms``: a pushed-down ``isin``
        filter on the postings scan."""
        return self.postings.filter(F.col("term").isin(list(terms)))

    def _collected(self, results: DataFrame) -> DataFrame:
        """Materialize a result frame on the driver, so the cached
        frames it reads can be released before it is returned."""
        return self.spark.createDataFrame(results.toArrow())

    # ------------------------------------------------------------------
    def _rank_topk(self, accum: DataFrame, k: int) -> DataFrame:
        """rsv desc, tie larger-docid-first, rank <= k
        (search_engine_accumulator.h:36-50 + top_k_sort)."""
        w = Window.partitionBy("query_id").orderBy(
            F.col("rsv_fixed").desc(), F.col("docid").desc()
        )
        return (
            accum.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "rank",
                "docid",
                "rsv_fixed",
                (F.col("rsv_fixed") / F.lit(100.0)).alias("rsv"),
            )
            .orderBy("query_id", "rank")
        )

    # ------------------------------------------------------------------
    def search_pregen(
        self,
        queries: list[tuple[int, str]],
        pregen: DataFrame,
        k: int = 10,
        ascending: bool = False,
    ) -> DataFrame:
        """Pregenerated ranking (ranking_function_pregen.c:38-63): the
        documents matching any query term are ranked purely by a
        per-document precomputed score — the reference reads it from a
        .pregen file built by the pregen writers (pregen_writer*.c,
        e.g. exact-integer field values or string-sort ranks); here
        ``pregen`` is the equivalent (docid, score) table.

        set_rsv overwrite semantics: every matching posting writes the
        SAME per-doc value, so the aggregation is MAX, never a sum,
        and query weights don't multiply (like the docid rankers).
        ``ascending`` flips the order by storing MAX − score
        (ranking_function_pregen.c:55 — the reference's MAX is the
        uint64 limit; int64's is used here, a pure order-preserving
        shift at any realizable score).

        Plan shape: candidates (query_id, docid) come off the decoded
        segments, join the pregen table on docid (a co-partitionable
        equi-join — bucket both on docid at cluster scale), and
        Catalyst's WindowGroupLimit bounds the top-k on both sides of
        the final exchange. No per-posting Python beyond the segment
        decode."""
        codec = self.codec
        qmap: dict[str, list[int]] = {}
        for qid, text in queries:
            for term, _w in parse_query(text, self.stemmer, self.cjk_segmenter):
                qmap.setdefault(term, []).append(qid)
        if not qmap:
            return _local_result(self.spark)
        hits = self.postings.filter(F.col("term").isin(list(qmap)))

        def cand_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                qids: list[np.ndarray] = []
                docs: list[np.ndarray] = []
                for row in pdf.itertuples(index=False):
                    docids, _imp, _lens = decode_segment(
                        np.asarray(row.impacts),
                        np.asarray(row.doc_counts),
                        row.postings,
                        row.doc_lens,
                        codec=codec,
                        byte_offsets=np.asarray(row.byte_offsets, dtype=np.int64),
                    )
                    for qid in qmap[row.term]:
                        qids.append(np.full(docids.size, qid, dtype=np.int64))
                        docs.append(docids)
                if qids:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(qids),
                            "docid": np.concatenate(docs),
                        }
                    ).drop_duplicates()

        cand = hits.mapInPandas(
            cand_fn, schema="query_id long, docid long"
        ).dropDuplicates(["query_id", "docid"])
        score = F.col("score").cast("long")
        if ascending:
            score = F.lit(np.iinfo(np.int64).max) - score
        scored = cand.join(pregen.select("docid", "score"), "docid").select(
            "query_id", "docid", score.alias("rsv_fixed")
        )
        return self._rank_topk(scored, k)

    # ------------------------------------------------------------------
    def search_readable(
        self,
        queries: list[tuple[int, str]],
        readability: DataFrame,
        k: int = 10,
        mix: float = 0.0,
    ) -> DataFrame:
        """Readability ranking (ranking_function_readability.c:69-108)
        — BM25 blended with Dale-Chall: every matched document gets
        ``(1−mix)·(cutoff − dale/1000)`` once (is_zero_rsv first
        touch) plus ``mix``-weighted BM25 per term; the reference
        default is mix=0 (atire_api.c:278, header default) — rank
        matches easiest-reading-first. ``cutoff`` is the hardest
        document's score/1000 (search_engine_readability.c:49-56).

        Unlike every other ranker the readability engine subclass
        accumulates RAW DOUBLES (no quantize/fixed-point,
        readability.c:95-101), so the once-per-doc bonus is
        order-independent and factors out of the term loop: the BM25
        float sum runs distributed, the bonus joins on docid after —
        no per-query shuffle of the readability table beyond the
        matched docids. Output rsv is rounded to 9 dp (float sum
        order bridge); ranking is rsv desc, docid desc.

        ``readability`` is a (docid, dalechall) table — the measure
        :func:`atire_spark.corpus.dalechall` computes, keyed to this
        index's docids."""
        k1, b = BM25_K1, BM25_B
        n_docs, mean_len = self.n_docs, self.mean_doc_len
        codec = self.codec
        qmap: dict[str, list[tuple[int, int]]] = {}
        for qid, text in queries:
            for term, w in parse_query(text, self.stemmer, self.cjk_segmenter):
                qmap.setdefault(term, []).append((qid, w))
        if not qmap:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, docid long, rsv double"
            )
        hits = self.postings.filter(F.col("term").isin(list(qmap)))
        hardest = readability.agg(
            F.max("dalechall").alias("h")
        ).collect()[0]["h"]
        cutoff = float(int(hardest or 0)) / 1000.0

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                qids, docs, contribs = [], [], []
                for row in pdf.itertuples(index=False):
                    docids, impacts, lens = decode_segment(
                        np.asarray(row.impacts),
                        np.asarray(row.doc_counts),
                        row.postings,
                        row.doc_lens,
                        codec=codec,
                        byte_offsets=np.asarray(row.byte_offsets, dtype=np.int64),
                    )
                    tf = impacts.astype(np.float64)
                    len_d = lens.astype(np.float64)
                    # readability.c:101 — plain-double BM25 (no
                    # float32 prior cast, no df==N skip)
                    idf = float(
                        np.log(np.float64(n_docs) / np.float64(int(row.df)))
                    )
                    top = tf * (k1 + 1.0)
                    rsv = mix * (
                        idf
                        * (top / (tf + k1 * ((1.0 - b) + b * (len_d / mean_len))))
                    )
                    for qid, w in qmap[row.term]:
                        qids.append(np.full(docids.size, qid, dtype=np.int64))
                        docs.append(docids)
                        contribs.append(rsv * w)
                if qids:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(qids),
                            "docid": np.concatenate(docs),
                            "contrib": np.concatenate(contribs),
                        }
                    )

        bm = (
            hits.mapInPandas(
                part, schema="query_id long, docid long, contrib double"
            )
            .groupBy("query_id", "docid")
            .agg(F.sum("contrib").alias("bm"))
        )
        scored = bm.join(
            readability.select(
                "docid", F.col("dalechall").cast("double").alias("dale")
            ),
            "docid",
        ).select(
            "query_id",
            "docid",
            F.round(
                (1.0 - mix) * (cutoff - F.col("dale") / 1000.0) + F.col("bm"),
                9,
            ).alias("rsv"),
        )
        w_ = Window.partitionBy("query_id").orderBy(
            F.col("rsv").desc(), F.col("docid").desc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w_))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "docid", "rsv")
            .orderBy("query_id", "rank")
        )

    # ------------------------------------------------------------------
    def _search_puurula(
        self,
        hits: DataFrame,
        qmap: dict[str, list[tuple[int, int, float]]],
        nq: dict[int, float],
        k: int,
        ranker: str,
        qf_scale: dict[tuple[int, str], float] | None = None,
    ) -> DataFrame:
        """Pitman-Yor-process LM rankers (lmp / lmptfidf,
        ranking_function_puurula.c:69-108 / puurula_idf.c:88-133).

        Both need per-document length vectors the reference keeps as
        RAM-resident arrays loaded from squiggle-term postings
        (puurula.c:24-52); here they are the ``puurula`` side table,
        cogrouped with the matching segments on ``seg_group`` — the
        same disjoint-docid-range partitioning the grouped scorer
        uses, so each task sees exactly the aux rows its docids need.
        At cluster scale the aux side is bucketed on seg_group by
        write_index, so only the (small) matched-segment side shuffles
        per query.

        The document prior joins the FIRST processed term's
        contribution per (query, doc) (is_zero_rsv, puurula.c:96-102);
        terms process in the reference's collection-frequency order
        (atire_api.c:966-968 qsort cmp_collection_frequency), realized
        with the same first-occurrence fold the lmds path uses.
        ``add_rsv`` takes the raw value — no postscalar — for both
        rankers (puurula.c:98-102).
        """
        import math

        n_docs = self.n_docs
        coll_len = float(self.collection_len)
        uniq_coll = float(self.unique_terms)
        u, lmp_g, idf_g = PUURULA_U, PUURULA_G, PUURULA_IDF_G
        codec = self.codec
        g_idx, tg_idx = int(lmp_g * 10), int(idf_g * 1000)
        is_idf = ranker == "lmptfidf"

        # lmptfidf transforms each occurrence's query_frequency to
        # ln(1 + 1/|Q|)·ln(N/df) and the query length becomes the sum
        # of the transformed values (atire_api.c:942-951). A term
        # ABSENT from the vocabulary has df set to 0 by the failed
        # lookup (search_engine.c:786-793), so its transform is
        # ln(N/0) = +inf and the whole query length becomes +inf —
        # every first-hit prior contribution then degenerates to
        # 1 + (short)(trunc(-inf)) = 1 on x86 (cvttsd2si → INT_MIN,
        # low 16 bits 0). Binary-verified via reference_ab variants
        # (queries with an absent term / inert phrase term).
        qf: dict[tuple[int, str], float] = {}
        qlen: dict[int, float] = dict(nq)
        if is_idf:
            dfs = {
                r["term"]: int(r["df"])
                for r in hits.select("term", "df").distinct().collect()
            }
            qlen = {qid: 0.0 for qid in nq}
            for term, subs in qmap.items():
                if term not in dfs:
                    for qid, _w, _p in subs:
                        qlen[qid] = math.inf
                    continue
                lnN_df = math.log(float(n_docs) / float(dfs[term]))
                for qid, weight, _post in subs:
                    v = math.log(1.0 + 1.0 / nq[qid]) * lnN_df
                    qf[(qid, term)] = v
                    qlen[qid] += weight * v

        def co_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(left) or not len(right):
                return _topk_frame({})
            order = np.argsort(right["docid"].to_numpy(np.int64))
            a_doc = right["docid"].to_numpy(np.int64)[order]
            if is_idf:
                a_uniq = right["uniq"].to_numpy(np.int64)[order]
                a_tlen = right["tfidf_len"].to_numpy(np.int64)[order]
                a_tddl = np.stack(right["tfidf_ddl"].to_numpy())[order][
                    :, tg_idx
                ]
            else:
                a_ddl = np.stack(right["ddl"].to_numpy())[order][:, g_idx]
            per_q: dict[int, list[tuple]] = {}
            for row in _seg_rows(left):
                docids, impacts, lens = decode_segment(
                    np.asarray(row.impacts),
                    np.asarray(row.doc_counts),
                    row.postings,
                    row.doc_lens,
                    codec=codec,
                    byte_offsets=np.asarray(row.byte_offsets, dtype=np.int64),
                )
                pos = np.searchsorted(a_doc, docids)
                tf = impacts.astype(np.float64)
                len_d = lens.astype(np.float64)
                with np.errstate(
                    divide="ignore", over="ignore", invalid="ignore"
                ):
                    if is_idf:
                        # w = ln(1+tf/uniq)·ln(N/df); powerlaw discount
                        # with gg = tg_idx/1000 (puurula_idf.c:108-110)
                        w = np.log(
                            1.0 + tf / a_uniq[pos].astype(np.float64)
                        ) * math.log(float(n_docs) / float(int(row.df)))
                        tfp = np.maximum(w - idf_g * np.power(w, idf_g), 0.0)
                        keep = tfp != 0.0  # no score ⇒ no touch, c:112
                        base = np.log((tfp * uniq_coll) / u + 1.0)
                        tddl = a_tddl[pos].astype(np.float64) / 1000.0
                        tlen = a_tlen[pos].astype(np.float64) / 1000.0
                        prior = np.log(1.0 - tddl / (tlen + u))
                    else:
                        # tf' = max(tf − g·tf^g, 0); ANT_logsum with 0
                        # written in the C branch order (maths.h:461)
                        tfp = np.maximum(
                            tf - lmp_g * np.power(tf, lmp_g), 0.0
                        )
                        inner = (
                            np.log(tfp)
                            + math.log(coll_len)
                            - math.log(u * float(int(row.cf)) + 1.0)
                        )
                        base = np.where(
                            inner > 0.0,
                            np.log(np.exp(0.0 - inner) + 1.0) + inner,
                            np.log(np.exp(inner) + 1.0),
                        )
                        keep = np.ones(docids.size, dtype=bool)
                        ddl = a_ddl[pos].astype(np.float64) / 1000.0
                        prior = np.log(1.0 - ddl / (len_d + u))
                d_k = docids[keep]
                if d_k.size == 0:
                    continue
                base_k, prior_k = base[keep], prior[keep]
                for qid, weight, _post in qmap[row.term]:
                    if is_idf:
                        rsv = qf.get((qid, row.term), 0.0) * base_k
                    elif qf_scale is not None:
                        # interpolated-feedback pass 2: the node's
                        # query_frequency was replaced by a float
                        # (atire_api.c:1521); query_occurences
                        # multiplies the logsum (puurula.c:88)
                        rsv = qf_scale.get((qid, row.term), 1.0) * base_k
                    else:
                        rsv = base_k  # query_occurences = 1 per node
                    unit = 1 + (rsv * 100.0).astype(np.int64)
                    rsv_p = rsv + qlen[qid] * prior_k
                    # C-cast semantics for the infinite-qlen case
                    # (absent query term): cvttsd2si(-inf) saturates
                    # to INT_MIN whose low 16 bits are ZERO, so the
                    # first-hit contribution degenerates to exactly 1
                    rp = rsv_p * 100.0
                    tr = np.zeros(rp.shape, dtype=np.int64)
                    fin = np.isfinite(rp)
                    tr[fin] = rp[fin].astype(np.int64)
                    unit_p = 1 + tr
                    per_q.setdefault(qid, []).append(
                        (d_k, (int(row.cf), row.term), unit, unit_p, weight)
                    )
            return _topk_frame(
                {qid: _reduce_topk(*_fold_prior(p), k) for qid, p in per_q.items()}
            )

        cand = (
            hits.groupBy("seg_group")
            .cogroup(self.index.puurula.groupBy("seg_group"))
            .applyInPandas(
                co_fn, schema="query_id long, docid long, rsv_fixed long"
            )
        )
        return self._rank_topk(cand, k)

    # ------------------------------------------------------------------
    def _adaptive_k1_map(
        self, hits: DataFrame, ranker: str
    ) -> dict[str, tuple[float, float]]:
        """Per-term (k1, idf) for the adaptive-k1 rankers — the
        reference walks each term's whole postings list once before
        scoring it (ranking_function_bm25t.c:89-123 /
        bm25adpt.c:113-196); here the walk is a distributed pre-pass:
        each matching segment contributes a map-side partial (a float
        partial sum for BM25T, a 256-bin integer histogram for
        BM25-adpt), partials combine per task, and only one tiny row
        per (term, task) reaches the driver, where the iterative
        solvers run on the per-term aggregates. Scale: the collect is
        O(query terms × tasks), never O(postings)."""
        from atire_spark.kernels.adaptive_k1 import (
            ADPT_MAX_TF,
            BM25ADPT_B,
            BM25T_B,
            bm25adpt_k1,
            bm25t_k1,
        )

        mean_len = self.mean_doc_len
        codec = self.codec
        is_t = ranker == "bm25t"
        b = BM25T_B if is_t else BM25ADPT_B

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sums: dict[str, float] = {}
            hists: dict[str, np.ndarray] = {}
            dfs: dict[str, int] = {}
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    docids, impacts, lens = decode_segment(
                        np.asarray(row.impacts),
                        np.asarray(row.doc_counts),
                        row.postings,
                        row.doc_lens,
                        codec=codec,
                        byte_offsets=np.asarray(row.byte_offsets, dtype=np.int64),
                    )
                    dfs[row.term] = int(row.df)
                    c = impacts.astype(np.float64) / (
                        1.0 - b + b * (lens.astype(np.float64) / mean_len)
                    )
                    if is_t:
                        sums[row.term] = sums.get(row.term, 0.0) + float(
                            np.sum(np.log(c + 1.0))
                        )
                    else:
                        idx = np.floor(c + 0.5).astype(np.int64)
                        h = np.bincount(
                            idx[idx < ADPT_MAX_TF], minlength=ADPT_MAX_TF
                        )
                        hists[row.term] = (
                            hists.get(row.term, np.zeros(ADPT_MAX_TF, np.int64))
                            + h
                        )
            terms = sorted(sums) if is_t else sorted(hists)
            if terms:
                yield pd.DataFrame(
                    {
                        "term": terms,
                        "df": [dfs[t] for t in terms],
                        "s": [sums.get(t) for t in terms],
                        "hist": [
                            hists[t].tolist() if t in hists else None
                            for t in terms
                        ],
                    }
                )

        rows = (
            hits.select(
                "term", "df", "impacts", "doc_counts", "byte_offsets",
                "postings", "doc_lens"
            )
            .mapInPandas(
                part, schema="term string, df long, s double, hist array<long>"
            )
            .collect()
        )
        by_term: dict[str, list] = {}
        df_by_term: dict[str, int] = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
            df_by_term[r["term"]] = int(r["df"])
        aux: dict[str, tuple[float, float]] = {}
        for term, parts in by_term.items():
            df = df_by_term[term]
            if is_t:
                # canonical partial order (sorted values) keeps the
                # engine run-to-run deterministic; round-9 inside the
                # solver bridges the remaining order drift vs SQL
                total = float(np.sum(np.sort([p["s"] for p in parts])))
                k1 = bm25t_k1(total, df)
                idf = float(np.log(np.float64(self.n_docs) / np.float64(df)))
                aux[term] = (k1, idf)
            else:
                hist = np.sum(
                    [np.asarray(p["hist"], dtype=np.int64) for p in parts],
                    axis=0,
                )
                aux[term] = bm25adpt_k1(hist, self.n_docs, df)
        return aux

    # ------------------------------------------------------------------
    def _search_grouped(
        self,
        qmap: dict[str, list[tuple[int, int, float]]],
        nq: dict[int, float],
        n_terms_per_q: dict[int, int],
        k: int,
        ranker: str,
        conjunctive: bool,
        trim_for: dict[tuple[int, str], int] | None = None,
        term_aux: dict | None = None,
    ) -> pd.DataFrame | DataFrame:
        """The grouped scorer (:func:`_grouped_topk`) in one of two
        placements, chosen from the index, not the batch, before any
        Spark object is built:

        - **Driver** — the index is resident (:meth:`_resident`) and
          the batch has no read-side trims. The matched rows are
          Arrow slices of the resident table, scored in the driver
          process, where the scorer sees every one and so emits the
          exact top-k; :func:`_rank_local` numbers the ranks and
          returns the ≤ k rows per query as a pandas frame. This is
          the reference's in-RAM term-at-a-time search: no Spark job
          and no py4j call once the table is loaded.
        - **Distributed** — every other batch (an index above the
          resident cap, or read-side trims, whose per-term prefix sums
          run distributed, see :meth:`_with_trim_cum`): the postings
          scan with a pushed-down term filter, partitioned by
          seg_group so every docid's full accumulation completes
          inside one task; each task emits only its top-k candidates
          per query, and :meth:`_rank_topk` ranks them. Segments of
          *all* terms for a given docid share its seg_group (the group
          is a pure function of the docid block), so a hash
          repartition on seg_group co-locates everything a docid needs
          — the reference's accumulator array sliced into disjoint
          docid ranges, one per task. Shuffle volume is the handful of
          matching compressed segments + k·queries candidate rows per
          partition, never one row per posting.
        """
        score = functools.partial(
            _grouped_topk,
            qmap=qmap, nq=nq, n_terms_per_q=n_terms_per_q, k=k,
            ranker=ranker, conjunctive=conjunctive, trim_for=trim_for,
            term_aux=term_aux, n_docs=self.n_docs,
            mean_len=self.mean_doc_len, coll_len=self.collection_len,
            quantized=self.quantized, codec=self.codec,
        )
        res = None if trim_for else self._resident()
        if res is not None:
            return _rank_local(next(score([res.rows(list(qmap))])), k)
        hits = self._hits(qmap)
        if trim_for:
            hits = self._with_trim_cum(hits)
        # the seg_group repartition co-locates every segment a docid's
        # accumulation needs — but a docid only spans MULTIPLE matched
        # rows when its query has ≥2 distinct terms (the build merges a
        # term's postings to one row per (term, seg_group), and one
        # term's seg_groups cover disjoint docid ranges). An all-
        # single-term batch therefore skips the shuffle entirely: the
        # per-partition bounded top-k stays exact, one whole exchange
        # cheaper per query.
        if any(n > 1 for n in n_terms_per_q.values()):
            hits = hits.repartition("seg_group")
        cand = hits.mapInPandas(
            score, schema="query_id long, docid long, rsv_fixed long"
        )
        return self._rank_topk(cand, k)

    # ------------------------------------------------------------------
    def search_cas(
        self, queries: list[tuple[int, str]], k: int = 10
    ) -> DataFrame:
        """NEXI search with the reference's CO/CAS dispatch on a
        leading "//" (NEXI_ant.c:22-25): CAS queries degrade to their
        about-clause term bags (ranked retrieval never reads the
        element paths — those drive INEX focusing); a parse error
        refuses the query entirely, contributing zero hits
        (atire_api.c:1229-1230)."""
        from atire_spark.kernels.stem import query_stem

        parsed: dict[int, list[tuple[str, int, float]]] = {}
        for qid, text in queries:
            if (text or "").lstrip().startswith("//"):
                terms, err = parse_nexi_cas(text)
                if err != NEXI_ERROR_NONE:
                    parsed[qid] = []
                    continue
                bag = Counter(
                    # query_stem applies the reference's islower gate
                    # (atire_api.c:913 — no stemming of numbers/tags)
                    query_stem(t.term, self.stemmer)
                    for t in terms
                )
                parsed[qid] = [(t, w, 1.0) for t, w in bag.items()]
            else:
                parsed[qid] = [
                    (t, w, 1.0)
                    for t, w in parse_query(
                        text, self.stemmer, self.cjk_segmenter
                    )
                ]
        return self.search_batch(queries, k=k, parsed_terms=parsed)

    def search_boolean(
        self, queries: list[tuple[int, str]], k: int = 10
    ) -> DataFrame:
        """Boolean retrieval (reference query_boolean.c +
        atire_api.c:1116-1176): filter docs by the AND/OR/NOT/XOR
        expression over per-term docid sets, rank survivors by the sum
        of BM25 contributions of the leaf terms they contain.

        Distributed shape: same seg_group-partitioned accumulation as
        :meth:`_search_grouped`, with a per-leaf presence vector per
        partition; the boolean tree is evaluated vectorized over the
        partition's candidate docids (each task owns its docid range,
        so presence is complete locally — no cross-partition set ops).
        """
        from atire_spark.boolean import assign_leaf_indexes, eval_tree, parse_boolean

        from atire_spark.kernels.stem import query_stem

        trees: dict[int, object] = {}
        # term → [(query_id, leaf_idx)]: one entry PER LEAF — a term
        # repeated in two leaves is scored once per leaf
        # (process_boolean_query walks every leaf separately)
        lmap: dict[str, list[tuple[int, int]]] = {}
        for qid, text in queries:
            tree = parse_boolean(text)
            if tree is None:
                continue
            leaves = assign_leaf_indexes(tree)
            trees[qid] = tree
            for leaf in leaves:
                # boolean leaf terms take the same query-side stemming
                # gate as NEXI terms (process_one_term path)
                lmap.setdefault(query_stem(leaf.term, self.stemmer), []).append(
                    (qid, leaf.idx)
                )
        if not lmap:
            return _local_result(self.spark)
        hits = self.postings.filter(F.col("term").isin(list(lmap)))
        n_docs, mean_len = self.n_docs, self.mean_doc_len
        quantized = self.quantized
        codec = self.codec

        def part_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids: list[np.ndarray] = []
            docs: list[np.ndarray] = []
            contribs: list[np.ndarray] = []
            leaf_ids: list[np.ndarray] = []
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    dec = _segment_contrib(
                        row, "bm25", False, quantized, n_docs, mean_len,
                        codec=codec,
                    )
                    if dec is None:
                        continue  # df==N: no score AND no bits set
                    docids, contrib = _per_query_contrib(dec, 1.0)
                    for qid, leaf_idx in lmap[row.term]:
                        qids.append(np.full(docids.size, qid, dtype=np.int64))
                        docs.append(docids)
                        contribs.append(contrib)
                        leaf_ids.append(np.full(docids.size, leaf_idx, np.int64))
            if not qids:
                return
            acc = pd.DataFrame(
                {
                    "query_id": np.concatenate(qids),
                    "docid": np.concatenate(docs),
                    "contrib": np.concatenate(contribs),
                    "leaf": np.concatenate(leaf_ids),
                }
            )
            outs = []
            for qid, g in acc.groupby("query_id", sort=False):
                tree = trees.get(int(qid))
                if tree is None:
                    continue
                n_leaves = len(assign_leaf_indexes(tree))
                per_doc = g.groupby("docid", sort=False)["contrib"].sum()
                cand_ids = per_doc.index.to_numpy()
                presence = []
                for i in range(n_leaves):
                    leaf_docs = g.loc[g["leaf"] == i, "docid"].to_numpy()
                    presence.append(np.isin(cand_ids, leaf_docs))
                mask = eval_tree(tree, presence)
                ids = cand_ids[mask]
                vals = accum_value(per_doc.to_numpy()[mask])
                if ids.size > k:
                    order = np.lexsort((-ids, -vals))[:k]
                    ids, vals = ids[order], vals[order]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(ids.size, qid, dtype=np.int64),
                            "docid": ids,
                            "rsv_fixed": vals,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

        cand = hits.repartition("seg_group").mapInPandas(
            part_fn, schema="query_id long, docid long, rsv_fixed long"
        )
        return self._rank_topk(cand, k)

    # ------------------------------------------------------------------
    def search_qaat(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        early_termination: str | None = "diff",
        return_stats: bool = False,
    ):
        """Quantum-at-a-time search with block-max pruning
        (reference atire/atire_api.c:683-836).

        Quantums (impact groups) are processed in descending global
        impact order via a max-heap over the per-term current-max
        quantum — the per-segment ``max_impact`` and per-quantum
        ``impacts[]``/``byte_offsets[]`` header is exactly the
        block-max metadata: a block is never decoded before the heap
        says its impact bound is the largest remaining.

        ``early_termination="diff"`` is the reference's
        QUANTUM_STOP_DIFF rule (atire_api.c:759-782): once the top-k
        heap is full and the sum of every term's current-max quantum
        cannot close the gap between the (k-1)th and kth result, stop.
        ``"diff_smallest"`` / ``"diff_largest"`` are the
        QUANTUM_STOP_DIFF_SMALLEST / _LARGEST refinements (same gate,
        then the smallest adjacent gap among the top — reference
        quirks reproduced — or the gap between the top two). Like the
        reference these are heuristics (results can differ from
        exhaustive evaluation near ties); ``None`` processes every
        quantum and is rank-identical to :meth:`search_batch`.

        Pruning state is partition-local (each task owns a disjoint
        docid range via seg_group, so its accumulator is complete for
        its docids); for the base rule a local top-k threshold is at
        most as large as the global one, which only makes the stop
        fire later — never wrongly relative to the reference rule.
        The SMALLEST/LARGEST variant gaps are not conservatively
        bounded by their global counterparts (a local top list can
        have wider gaps), which is acceptable for an explicitly
        results-changing heuristic.

        Requires a quantized index for early termination — on an
        unquantized index the termination is reset to None with the
        reference's warning semantics (atire_api.c:1854-1857).
        """
        if early_termination is not None and early_termination not in (
            "diff",
            "diff_smallest",
            "diff_largest",
        ):
            raise ValueError(
                f"unknown early_termination {early_termination!r}"
            )
        if early_termination is not None and not self.quantized:
            early_termination = None  # reference resets + warns
        qmap: dict[str, list[tuple[int, int]]] = {}
        for qid, text in queries:
            for term, weight in parse_query(text, self.stemmer, self.cjk_segmenter):
                qmap.setdefault(term, []).append((qid, weight))
        if not qmap:
            empty = _local_result(self.spark)
            return (empty, {"processed_quantums": 0, "total_quantums": 0}) if return_stats else empty
        hits = self.postings.filter(F.col("term").isin(list(qmap)))

        n_docs, mean_len = self.n_docs, self.mean_doc_len
        quantized = self.quantized
        codec = self.codec
        k1, b = BM25_K1, BM25_B
        et = early_termination

        def part_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import heapq

            # key by (query, seg_group): every seg_group covers a
            # bounded docid range (first_docid..last_docid, at most one
            # segment span), so the accumulator is a dense numpy array
            # over that range — vectorized adds via fancy indexing, no
            # per-quantum reallocation. Keying the accumulation by the
            # whole hash partition instead would make the docid span
            # unbounded at scale (a partition holds many scattered
            # groups).
            per_q: dict[tuple[int, int], list] = {}
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    for qid, weight in qmap[row.term]:
                        per_q.setdefault((qid, int(row.seg_group)), []).append(
                            (row, weight)
                        )
            out = []
            for (qid, _sg), rows in per_q.items():
                entries = []
                total_q = 0
                lo, hi = None, None
                for row, weight in rows:
                    impacts = np.asarray(row.impacts, dtype=np.int64)
                    doc_counts = np.asarray(row.doc_counts, dtype=np.int64)
                    byte_offsets = np.asarray(row.byte_offsets, dtype=np.int64)
                    idf = None
                    lens = None
                    if not quantized:
                        idf = float(
                            np.log(np.float64(n_docs) / np.float64(int(row.df)))
                        )
                        if idf == 0.0:
                            continue  # bm25.c:91-92
                        lens = vbyte_decode(row.doc_lens).astype(np.int64)
                    f, l = int(row.first_docid), int(row.last_docid)
                    lo = f if lo is None else min(lo, f)
                    hi = l if hi is None else max(hi, l)
                    entries.append(
                        {
                            "impacts": impacts,
                            "counts": doc_counts,
                            "starts": np.concatenate(
                                ([0], np.cumsum(doc_counts[:-1]))
                            ).astype(np.int64),
                            "bo": byte_offsets,
                            "blob": row.postings,
                            "lens": lens,
                            "idf": idf,
                            "w": weight,
                            "g": 0,
                        }
                    )
                    total_q += impacts.size
                if not entries:
                    continue
                heap = [(-e["impacts"][0], i) for i, e in enumerate(entries)]
                heapq.heapify(heap)
                max_remaining = int(sum(e["impacts"][0] for e in entries))
                # dense accumulator over the group's docid range — the
                # reference's accumulator array sliced to this task's
                # slice of docid space (search_engine_accumulator.h)
                acc = np.zeros(hi - lo + 1, dtype=np.int64)
                touched = np.zeros(hi - lo + 1, dtype=bool)
                n_touched = 0
                processed = 0
                while heap:
                    if (
                        et is not None
                        and k >= 2
                        and n_touched >= k  # heap_is_full (result.h:137)
                        and max_remaining > 0
                    ):
                        vals = accum_value(acc[touched])  # signed short view
                        topv = np.partition(vals, vals.size - k)[vals.size - k :]
                        topv.sort()
                        # base gate: diff between (k-1)th and kth
                        # largest (search_engine_result.h:132-135);
                        # the SMALLEST/LARGEST variants only apply
                        # once it holds (atire_api.c:759-782)
                        if max_remaining < int(topv[1] - topv[0]):
                            if et == "diff":
                                break
                            if et == "diff_smallest":
                                # get_smallest_diff_amoung_the_top
                                # (result.h:47-62): seeded with the
                                # second-largest VALUE, then min over
                                # adjacent gaps excluding the top gap
                                # — reproduced quirk and all
                                cand = int(topv[-2])
                                if topv.size > 2:
                                    cand = min(
                                        cand, int(np.diff(topv[:-1]).min())
                                    )
                                if max_remaining < cand:
                                    break
                            elif et == "diff_largest":
                                # get_diff_between_largest_and_second_
                                # largest (result.h:64-95)
                                if max_remaining < int(topv[-1] - topv[-2]):
                                    break
                    neg_imp, i = heapq.heappop(heap)
                    e = entries[i]
                    g = e["g"]
                    impact = int(e["impacts"][g])
                    s, c = int(e["starts"][g]), int(e["counts"][g])
                    end_b = (
                        int(e["bo"][g + 1]) if g + 1 < e["bo"].size else len(e["blob"])
                    )
                    deltas = decode_group(
                        e["blob"][int(e["bo"][g]) : end_b], c, codec
                    )
                    idxs = np.cumsum(deltas.astype(np.int64)) - 1 - lo
                    if quantized:
                        # the quantum path routes the impact through
                        # add_rsv(double) — quantum_parameters.tf is a
                        # double (ranking_function_quantum_parameters.h:
                        # 18, ranking_function_impact.c:28) — so each
                        # hit adds 1 + 100·impact, UNLIKE the TaaT
                        # impact path's raw add_rsv(long). Binary-
                        # verified: QaaT rsv 13601 = 1 + 100·136 where
                        # TaaT reports 136
                        acc[idxs] += (1 + impact * 100) * e["w"]
                    else:
                        lens_g = e["lens"][s : s + c].astype(np.float64)
                        priors = (k1 * ((1.0 - b) + b * (lens_g / mean_len))).astype(
                            np.float32
                        )
                        tf_d = np.float64(impact)
                        rsv = e["idf"] * (
                            (tf_d * (k1 + 1.0)) / (tf_d + priors.astype(np.float64))
                        )
                        # docids within a quantum are unique, so a fancy-
                        # indexed += is a correct scatter-add
                        acc[idxs] += (1 + (rsv * 100.0).astype(np.int64)) * e["w"]
                    fresh = ~touched[idxs]
                    if fresh.any():
                        touched[idxs] = True
                        n_touched += int(fresh.sum())
                    processed += 1
                    max_remaining -= impact
                    e["g"] = g + 1
                    if e["g"] < e["impacts"].size:
                        nxt = int(e["impacts"][e["g"]])
                        max_remaining += nxt
                        heapq.heappush(heap, (-nxt, i))
                ids = np.flatnonzero(touched) + lo
                vals = accum_value(acc[touched])
                if ids.size > k:
                    order = np.lexsort((-ids, -vals))[:k]
                    ids, vals = ids[order], vals[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(ids.size + 1, qid, dtype=np.int64),
                            "docid": np.concatenate((ids, [-1])),
                            "rsv_fixed": np.concatenate((vals, [0])),
                            "pq": np.concatenate(
                                (np.zeros(ids.size, np.int64), [processed])
                            ),
                            "tq": np.concatenate(
                                (np.zeros(ids.size, np.int64), [total_q])
                            ),
                        }
                    )
                )
            if out:
                yield pd.concat(out)

        cand = hits.repartition("seg_group").mapInPandas(
            part_fn,
            schema="query_id long, docid long, rsv_fixed long, pq long, tq long",
        )
        results = self._rank_topk(
            cand.filter(F.col("docid") >= 0).select("query_id", "docid", "rsv_fixed"),
            k,
        )
        if not return_stats:
            return results
        cand.persist()
        try:
            m = (
                cand.filter(F.col("docid") < 0)
                .agg(F.sum("pq").alias("pq"), F.sum("tq").alias("tq"))
                .collect()[0]
            )
            results = self._collected(results)
        finally:
            cand.unpersist()
        stats = {
            "processed_quantums": int(m["pq"] or 0),
            "total_quantums": int(m["tq"] or 0),
        }
        return results, stats

    # ------------------------------------------------------------------
    @staticmethod
    def _wand_level_df(hits: DataFrame) -> DataFrame:
        """WAND phase-1 impact-level histogram: docs per (term, impact
        level) off the quantum-header columns alone — column pruning
        must leave the ``postings``/``doc_lens`` BINARY columns unread
        so the threshold pass costs a few KB per matched segment row
        (audited by tests/test_plan_audit.py)."""
        return (
            hits.select(
                "term",
                F.explode(F.arrays_zip("impacts", "doc_counts")).alias("z"),
            )
            .groupBy("term", F.col("z.impacts").alias("impact"))
            .agg(F.sum("z.doc_counts").alias("n_docs"))
        )

    def search_wand(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        return_stats: bool = False,
    ):
        """Document-space block-max WAND pruning, exact top-k.

        The classic family (WAND, Broder et al. CIKM 2003; block-max
        WAND, Ding & Suel SIGIR 2011) skips a docid region whenever the
        sum of the region's per-term score ceilings cannot beat the
        current top-k threshold. Here the "block" is a (term,
        seg_group) segment — seg_group is a pure function of the docid
        block, so one segment is exactly a term's postings for one
        docid range — and its ceiling is ``max_impact``. On a
        quantized index the impact IS the per-posting fixed-point
        score contribution (memory_index.c:1541-1589), so
        Σ weight·max_impact is a true upper bound on any docid in the
        range, the same additivity QaaT's quantum rules lean on
        (atire/atire_api.c:683-836). Unlike those results-changing
        heuristics this path is rank-identical to :meth:`search_batch`:

        - **Phase 1 (threshold, metadata only).** Scan just the
          quantum-header columns (``impacts[]``/``doc_counts[]`` —
          column pruning leaves the ``postings`` BINARY unread, so at
          cluster scale this pass reads a few KB per matched segment
          row). Per term, aggregate docs per impact level; walking
          levels in descending impact, the level where the running doc
          count reaches k guarantees k distinct docs scoring
          ≥ weight·level from this term alone (contributions are
          non-negative and a docid occurs once per term). θ₀(query) =
          max over its terms — a certified lower bound on the true
          k-th rsv.
        - **Phase 2 (pivot test + scoring).** A (query, seg_group)
          pair is decoded only when Σ_t weight·max_impact ≥ θ₀; every
          docid of a skipped pair scores < θ₀ ≤ kth rsv, so it cannot
          enter the top-k even via the larger-docid tie-break.
          Survivors co-locate on (query_id, seg_group) — a docid's
          whole accumulation completes inside one task, same shape as
          the grouped scorer — then the usual bounded top-k merge.

        The bound arithmetic assumes the accumulator does not wrap
        (the reference's quantum rules share that assumption — uint16
        accumulators, 8-bit impacts); queries whose maximum possible
        pre-wrap score reaches the wrap point get pruning disabled
        (θ₀ = 0 — exact either way), so rank identity holds
        unconditionally. Requires a quantized index (the reference
        likewise restricts quantum processing to baked-in scores,
        atire_api.c:472-478). Query ids must be non-negative: the
        scorer's per-partition stats rows use ``query_id -1``.
        """
        if any(qid < 0 for qid, _ in queries):
            raise ValueError("search_wand needs non-negative query ids")
        if not self.quantized:
            raise ValueError(
                "block-max WAND needs a quantized index: max_impact "
                "bounds scores only when the impact is the score "
                "(atire_api.c:472-478)"
            )
        qterms: list[tuple[int, str, int]] = []
        for qid, text in queries:
            for term, weight in parse_query(
                text, self.stemmer, self.cjk_segmenter
            ):
                qterms.append((qid, term, weight))
        if not qterms:
            empty = _local_result(self.spark)
            if return_stats:
                return empty, {"segments_scored": 0, "segments_total": 0}
            return empty
        terms = sorted({t for _, t, _ in qterms})
        hits = self.postings.filter(F.col("term").isin(terms))

        # ---- phase 1: per-term k-doc guarantee off the headers only.
        # The level histogram is a pure function of the immutable
        # index, so it caches driver-side per term (≤ 2^bits levels
        # each): a term probed once never pays the metadata job again,
        # and a warm WAND query is ONE action — the same plan shape as
        # search_batch, minus the decodes the pivot test rejects.
        missing = [t for t in terms if t not in self._wand_levels_cache]
        if missing:
            per_level = self._wand_level_df(
                self.postings.filter(F.col("term").isin(missing))
            ).collect()
            if len(self._wand_levels_cache) > 65536:
                self._wand_levels_cache.clear()  # bound it
            fetched: dict[str, list[tuple[int, int]]] = {
                t: [] for t in missing
            }
            for r in per_level:
                fetched[r["term"]].append(
                    (int(r["impact"]), int(r["n_docs"]))
                )
            self._wand_levels_cache.update(fetched)
        levels = {
            t: self._wand_levels_cache[t]
            for t in terms
            if self._wand_levels_cache.get(t)
        }
        guar: dict[str, int] = {}
        maxg: dict[str, int] = {}
        for term, lv in levels.items():
            maxg[term] = max(i for i, _ in lv)
            seen = 0
            for impact, n in sorted(lv, reverse=True):
                seen += n
                if seen >= k:
                    guar[term] = impact
                    break
        theta: dict[int, int] = {}
        for qid, term, weight in qterms:
            if term in guar:
                g = weight * guar[term]
                if g > theta.get(qid, 0):
                    theta[qid] = g
        # wrap-soundness guard: the θ₀/Σmax arithmetic assumes the
        # SIGNED 16-bit accumulator never leaves the positive range. If
        # a query's maximum possible pre-wrap score Σ weight·max_impact
        # reaches 2^15 (ACCUM_HALF), scores can go negative and are no
        # longer monotone in the bounds — disable pruning
        # for THAT query (θ₀ = 0 ⇒ every segment decodes ⇒ identical to
        # the grouped path, wrap included), keeping rank identity
        # unconditional rather than docstring-conditional.
        qbound: dict[int, int] = {}
        for qid, term, weight in qterms:
            qbound[qid] = qbound.get(qid, 0) + weight * maxg.get(term, 0)
        for qid, bound in qbound.items():
            if bound >= ACCUM_HALF:
                theta[qid] = 0

        # ---- phase 2: one exchange (seg_group), pivot test + exact
        # scoring in the worker. The query fan-out (term → (query,
        # weight)), θ₀ and the wrap flags ride the task closure —
        # driver-known, query-bounded — so the plan is scan →
        # repartition(seg_group) → part_fn → rank window, the exact
        # shape of the grouped scorer (no broadcast exchanges, no
        # metadata-aggregate subtree).
        qmap: dict[str, list[tuple[int, int]]] = {}
        for qid, term, weight in qterms:
            qmap.setdefault(term, []).append((qid, weight))
        n_docs, mean_len = self.n_docs, self.mean_doc_len
        coll_len = self.collection_len
        codec = self.codec
        # dynamic pruning is sound only while scores cannot wrap (the
        # accumulator stays in the non-negative no-wrap regime)
        nowand = {q for q, bnd in qbound.items() if bnd >= ACCUM_HALF}
        theta0 = dict(theta)

        def part_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            """Block-max WAND with an ASCENDING partition-local
            threshold (Ding & Suel SIGIR 2011, adapted to the
            shared-nothing layout): per query, groups process
            best-first (ceiling desc); once a (query, seg_group) group
            is fully scored its docs' totals are COMPLETE (docid
            ranges are disjoint across groups), so the partition's
            running k-th best is a certified lower bound on the global
            k-th (the k-th largest of a subset never exceeds the k-th
            largest of the whole), and any later group whose ceiling
            falls below it is skipped exactly. At cluster scale each
            task owns many groups, so the local threshold converges to
            ≈ the true k-th within a few groups — the trajectory the
            reference's in-process heap threshold follows
            (atire/atire_api.c:683-836)."""
            rows_by_sg: dict[int, list] = {}
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    rows_by_sg.setdefault(int(row.seg_group), []).append(row)
            if not rows_by_sg:
                return
            # per (query, seg_group): member rows + ceiling
            groups: dict[tuple[int, int], list] = {}
            ub_of: dict[tuple[int, int], int] = {}
            for sg, rows in rows_by_sg.items():
                for row in rows:
                    for qid, weight in qmap[row.term]:
                        key = (qid, sg)
                        groups.setdefault(key, []).append((row, weight))
                        ub_of[key] = ub_of.get(key, 0) + weight * int(
                            row.max_impact
                        )
            by_q: dict[int, list[tuple[int, int]]] = {}
            for key in groups:
                by_q.setdefault(key[0], []).append(key)
            qids: list[np.ndarray] = []
            docs: list[np.ndarray] = []
            rsvs: list[np.ndarray] = []
            n_total_pairs = sum(len(v) for v in groups.values())
            n_decoded = 0
            dec_memo: dict[int, object] = {}
            for qid, keys in by_q.items():
                # best-first: descending ceiling, seg_group tie-break
                keys.sort(key=lambda kk: (-ub_of[kk], kk[1]))
                prune_ok = qid not in nowand
                topk = np.empty(0, dtype=np.int64)  # local best rsvs
                for key in keys:
                    th = theta0.get(qid, 0)
                    if prune_ok and topk.size == k:
                        th = max(th, int(topk.min()))
                    if prune_ok and ub_of[key] < th:
                        continue  # every doc in the range scores < θ
                    pairs = groups[key]
                    g_docs: list[np.ndarray] = []
                    g_contribs: list[np.ndarray] = []
                    for row, weight in pairs:
                        rid = id(row)
                        if rid not in dec_memo:
                            dec_memo[rid] = _segment_contrib(
                                row, "bm25", False, True, n_docs,
                                mean_len, coll_len, codec=codec,
                            )
                        dec = dec_memo[rid]
                        if dec is None:
                            continue
                        dd, contrib = _per_query_contrib(dec, 0.0)
                        g_docs.append(dd)
                        g_contribs.append(contrib * int(weight))
                    n_decoded += len(pairs)
                    if not g_docs:
                        continue
                    d = np.concatenate(g_docs)
                    c = np.concatenate(g_contribs)
                    order = np.argsort(d, kind="stable")
                    d, c = d[order], c[order]
                    new = np.empty(d.size, dtype=bool)
                    new[0] = True
                    new[1:] = d[1:] != d[:-1]
                    starts = np.flatnonzero(new)
                    tot = accum_value(np.add.reduceat(c, starts))
                    du = d[starts]
                    qids.append(np.full(du.size, qid, dtype=np.int64))
                    docs.append(du)
                    rsvs.append(tot)
                    # grow the local threshold off the completed docs
                    topk = np.sort(np.concatenate((topk, tot)))[-k:]
            # marker row: per-partition (scored, total) pair counts for
            # the stats aggregation (query_id -1 never ranks)
            qids.append(np.array([-1], dtype=np.int64))
            docs.append(np.array([n_decoded], dtype=np.int64))
            rsvs.append(np.array([n_total_pairs], dtype=np.int64))
            acc = pd.DataFrame(
                {
                    "query_id": np.concatenate(qids),
                    "docid": np.concatenate(docs),
                    "rsv_fixed": np.concatenate(rsvs),
                }
            )
            outs = []
            for qv, g in acc.groupby("query_id", sort=False):
                if qv >= 0 and len(g) > k:
                    order = np.lexsort(
                        (-g["docid"].to_numpy(), -g["rsv_fixed"].to_numpy())
                    )[:k]
                    g = g.iloc[order]
                outs.append(g)
            yield pd.concat(outs)

        cand = hits.repartition("seg_group").mapInPandas(
            part_fn, schema="query_id long, docid long, rsv_fixed long"
        )
        results = self._rank_topk(cand.filter(F.col("query_id") >= 0), k)
        if not return_stats:
            return results
        cand.persist()
        try:
            m = (
                cand.filter(F.col("query_id") < 0)
                .agg(
                    F.sum("docid").alias("s"),
                    F.sum("rsv_fixed").alias("t"),
                )
                .collect()[0]
            )
            results = self._collected(results)
        finally:
            cand.unpersist()
        stats = {
            "segments_scored": int(m["s"] or 0),
            "segments_total": int(m["t"] or 0),
        }
        return results, stats

    # ------------------------------------------------------------------
    def _kl_select(
        self, texts: list[str], terms_wanted: int
    ) -> list[tuple[str, float]]:
        """Blind-KL expansion-term selection over a pseudo-document.

        Reference chain: populate() re-indexes the feedback documents
        into one ANT_memory_index_one (relevance_feedback.c:92-115,
        lengths and term frequencies ACCUMULATE across the documents),
        kl_divergence scores every term (memory_index_one.c:431-453;
        term_divergence_kl.c: p·ln(p/q) with q = cf/|C|, or 1/|C| for
        unseen terms), top_n_terms keeps the best by kl descending
        (memory_index_one.c:500-551; the reference's qsort tie order
        is unspecified — both we and the SQL oracle break ties by term
        ascending).

        Only TT_WORD tokens enter the pseudo-document
        (relevance_feedback.c:73-87 ``add_to_index``); a stemmed
        engine stems tokens of length ≥ 3 (the add_to_index gate).
        The per-term cf lookups are the reference's dictionary probes —
        a vocabulary-sized scalar read, not a data collect.
        """
        import math

        from atire_spark.kernels.stem import query_stem

        toks: list[str] = []
        for text in texts:
            for t in tokenize(text, cjk_segmenter=self.cjk_segmenter):
                if t[0].isdigit():
                    continue  # numbers are not TT_WORD
                toks.append(query_stem(t, self.stemmer))
        if not toks:
            return []
        plen = len(toks)
        tfs = Counter(toks)
        cf_rows = (
            self.postings.filter(F.col("term").isin(list(tfs)))
            .select("term", "cf")
            .distinct()
            .collect()
        )
        cf = {r["term"]: int(r["cf"]) for r in cf_rows}
        out = []
        for t, f in tfs.items():
            px = f / plen
            c = cf.get(t, 0)
            if c:
                qx = c / self.collection_len
            else:
                qx = 1.0 / self.collection_len
            out.append((t, px * math.log(px / qx)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:terms_wanted]

    def _fetch_texts(
        self, results: DataFrame, documents: DataFrame, max_rank: int
    ) -> dict[int, list[str]]:
        """Top-ranked docs' raw text per query — the reference's
        get_document() loop over the doc repository
        (relevance_feedback.c:95-115); here the transcripts table IS
        the repository. Collects max_rank × n_queries small text rows
        (the reference also materializes each doc into RAM)."""
        rows = (
            results.filter(F.col("rank") <= max_rank)
            .join(self.index.docmap, "docid")
            .join(documents, ["conv_id", "turn_idx"])
            .select("query_id", "rank", "text")
            .collect()
        )
        texts: dict[int, list[tuple[int, str]]] = {}
        for r in rows:
            texts.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), r["text"])
            )
        return {
            qid: [t for _, t in sorted(pairs)] for qid, pairs in texts.items()
        }

    def search_feedback(
        self,
        queries: list[tuple[int, str]],
        documents: DataFrame,
        k: int = 10,
        feedback_documents: int = 17,
        feedback_terms: int = 5,
        ranker: str = "bm25",
    ) -> DataFrame:
        """Blind relevance feedback (reference ATIRE_API::feedback,
        atire_api.c:1553-1600, BLIND_KL feedbacker):

        1. run the query, take the top ``feedback_documents`` docs
           (reference defaults 17 docs / 5 terms,
           ant_param_block.c:57-58);
        2. re-index their text as one pseudo-document and pick the
           ``feedback_terms`` highest-KL terms (:meth:`_kl_select`);
        3. append them to the query with ``rsv_weight`` (POSTSCALAR) =
           the term's KL score (query_object_with_feedback_to_NEXI_
           query, atire_api.c:1330-1340) and re-search.

        ``documents`` is the transcripts table (the doc repository).
        With no feedback terms (queries with no hits) the initial
        results stand, as in the reference (atire_api.c:1578-1580).
        """
        kk = max(k, feedback_documents)
        initial = self.search_batch(queries, k=kk, ranker=ranker)
        texts = self._fetch_texts(initial, documents, feedback_documents)
        parsed: dict[int, list[tuple[str, int, float]]] = {}
        any_fb = False
        for qid, text in queries:
            base = [
                (t, w, 1.0) for t, w in parse_query(text, self.stemmer, self.cjk_segmenter)
            ]
            fb = self._kl_select(texts.get(qid, []), feedback_terms)
            if fb:
                any_fb = True
            parsed[qid] = base + [(t, 1, kl) for t, kl in fb]
        if not any_fb:
            return initial.filter(F.col("rank") <= k)
        return self.search_batch(
            queries, k=k, ranker=ranker, parsed_terms=parsed
        )

    def _rm_select(
        self,
        texts: list[str],
        query_terms: list[str],
        terms_wanted: int,
    ) -> list[tuple[str, float]]:
        """Blind KL-RM term selection
        (relevance_feedback_blind_kl_rm.c:20-37): candidates are only
        the first ``min(|Q|, terms_wanted)`` ORIGINAL query terms (in
        parse order); each found in the feedback pseudo-document gets
        the posterior ``tf / pseudo_doc_length`` as its score — no KL
        divergence. Token gate identical to :meth:`_kl_select`."""
        from atire_spark.kernels.stem import query_stem

        toks: list[str] = []
        for text in texts:
            for t in tokenize(text, cjk_segmenter=self.cjk_segmenter):
                if t[0].isdigit():
                    continue  # numbers are not TT_WORD
                toks.append(query_stem(t, self.stemmer))
        if not toks:
            return []
        plen = len(toks)
        tfs = Counter(toks)
        out = []
        for t in query_terms[:terms_wanted]:
            if tfs.get(t):
                out.append((t, tfs[t] / plen))
        return out

    def search_feedback_rm(
        self,
        queries: list[tuple[int, str]],
        documents: DataFrame,
        k: int = 10,
        feedback_documents: int = 17,
        feedback_terms: int = 5,
        ranker: str = "bm25",
    ) -> DataFrame:
        """Blind relevance feedback with the KL-RM feedbacker
        (FEEDBACK_BLIND_KL_RM): same chain as :meth:`search_feedback`
        but the re-injected terms are the ORIGINAL query terms that
        appear in the top documents, weighted by their posterior
        probability in the pseudo-document
        (relevance_feedback_blind_kl_rm.c:20-37) — appended as extra
        query nodes with rsv_weight = posterior
        (query_object_with_feedback_to_NEXI_query,
        atire_api.c:1354-1400)."""
        kk = max(k, feedback_documents)
        initial = self.search_batch(queries, k=kk, ranker=ranker)
        texts = self._fetch_texts(initial, documents, feedback_documents)
        parsed: dict[int, list[tuple[str, int, float]]] = {}
        any_fb = False
        for qid, text in queries:
            base = [
                (t, w, 1.0)
                for t, w in parse_query(text, self.stemmer, self.cjk_segmenter)
            ]
            fb = self._rm_select(
                texts.get(qid, []), [t for t, _, _ in base], feedback_terms
            )
            if fb:
                any_fb = True
            parsed[qid] = base + [(t, 1, post) for t, post in fb]
        if not any_fb:
            return initial.filter(F.col("rank") <= k)
        return self.search_batch(
            queries, k=k, ranker=ranker, parsed_terms=parsed
        )

    @staticmethod
    def _logsum(a: float, b: float) -> float:
        """ANT_logsum (maths.h:461-468), branch order preserved."""
        import math

        if a > b:
            return math.log(math.exp(b - a) + 1.0) + a
        return math.log(math.exp(a - b) + 1.0) + b

    def search_feedback_interpolated(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        feedback_documents: int = 10,
        feedback_lambda: float = 0.5,
    ) -> DataFrame:
        """Puurula's ALTA interpolated feedback (FEEDBACK_INTERPOLATED,
        atire_api.c:1407-1555) on the lmp ranker — the ranker the
        algorithm was built for (BM25's relevance_rank ignores query
        weights, so interpolation would be a no-op there).

        Pass 1 is a normal lmp search. The top ``feedback_documents``
        results per query are indexed in memory (the reference's
        rerank() memory index — here a driver-side map over <= D docs
        per query, the same RAM-residency the reference assumes). For
        each query term present in those docs, the log-domain
        normalizers fold ``score_one_document + accumulated_rsv``
        through ANT_logsum in rank order (docs) then parse order
        (terms), and the term's query_frequency becomes
        ``(1-lambda)*qf/|Q| + lambda*exp(term_normaliser)``
        (atire_api.c:1521). Terms absent from the top documents keep
        their original weight and are excluded from the new query
        length — the reference's ``continue`` skips both updates.
        Pass 2 re-runs the SAME terms with the float weights and the
        query length replaced by their sum (process_NEXI_query's
        fake_terms_in_query, atire_api.c:957-960).

        Collapsed duplicate query terms follow the collapsed-weight
        convention of :meth:`search_batch` (one node per distinct
        term)."""
        import math

        import numpy as np
        import pandas as pd

        if self.index.puurula is None:
            raise ValueError(
                "interpolated feedback runs on the lmp ranker and needs "
                "the -Ilmp length vectors"
            )
        kk = max(k, feedback_documents)
        initial = self.search_batch(queries, k=kk, ranker="lmp")
        init_rows = initial.collect()
        top: dict[int, list[tuple[int, int]]] = {}
        for r in init_rows:
            if int(r["rank"]) <= feedback_documents:
                top.setdefault(int(r["query_id"]), []).append(
                    (int(r["rank"]), int(r["docid"]))
                )
        rsv_of = {
            (int(r["query_id"]), int(r["docid"])): float(r["rsv_fixed"])
            for r in init_rows
        }
        parsed = {
            qid: parse_query(text, self.stemmer, self.cjk_segmenter)
            for qid, text in queries
        }
        all_terms = sorted({t for p in parsed.values() for t, _ in p})
        exam_docs = sorted({d for ds in top.values() for _, d in ds})
        # memory index over the examined docs: tf of each query term in
        # each top doc (a <= |terms| x D x Q collect — query metadata)
        tf_map: dict[tuple[str, int], int] = {}
        if all_terms and exam_docs:
            codec = self.codec
            docset = set(exam_docs)

            def decode_fn(batches):
                from atire_spark.kernels.impact import decode_segment

                for pdf in batches:
                    for row in pdf.itertuples(index=False):
                        d, t, _ = decode_segment(
                            np.asarray(row.impacts),
                            np.asarray(row.doc_counts),
                            row.postings,
                            None,
                            codec=codec,
                            byte_offsets=np.asarray(
                                row.byte_offsets, dtype=np.int64
                            ),
                        )
                        keep = np.isin(d, list(docset))
                        if keep.any():
                            yield pd.DataFrame(
                                {
                                    "term": np.full(
                                        int(keep.sum()), row.term, dtype=object
                                    ),
                                    "docid": d[keep],
                                    "tf": t[keep].astype(np.int64),
                                }
                            )

            rows = (
                self.postings.filter(F.col("term").isin(all_terms))
                .mapInPandas(
                    decode_fn, schema="term string, docid long, tf long"
                )
                .collect()
            )
            tf_map = {
                (r["term"], int(r["docid"])): int(r["tf"]) for r in rows
            }
        # global per-doc prior inputs for the examined docs
        g_idx = int(PUURULA_G * 10)
        aux = {
            int(r["docid"]): float(r["ddl"][g_idx]) / 1000.0
            for r in self.index.puurula.filter(
                F.col("docid").isin(exam_docs)
            )
            .select("docid", "ddl")
            .collect()
        }
        lens = {
            int(r["docid"]): float(r["doc_len"])
            for r in self.index.docmap.filter(F.col("docid").isin(exam_docs))
            .select("docid", "doc_len")
            .collect()
        }
        u, g, L = PUURULA_U, PUURULA_G, float(self.collection_len)
        lam = feedback_lambda
        qf_scale: dict[tuple[int, str], float] = {}
        nq2: dict[int, float] = {}
        for qid, terms in parsed.items():
            docs = [d for _, d in sorted(top.get(qid, []))]
            terms_in_q = float(sum(w for _, w in terms))
            cf_local = {
                t: sum(tf_map.get((t, d), 0) for d in docs)
                for t, _ in terms
            }
            prior = {
                d: math.log(1.0 - aux[d] / (lens[d] + u)) for d in docs
            }

            def dts(t: str, qf: float, d: int) -> float:
                tf = float(tf_map.get((t, d), 0))
                tfp = max(tf - g * math.pow(tf, g), 0.0)
                inner = (
                    math.log(tfp) + math.log(L)
                    - math.log(u * cf_local[t] + 1.0)
                    if tfp > 0.0
                    else float("-inf")
                )
                return qf * self._logsum(inner, 0.0) + prior[d]

            normalizer = 0.0
            for t, w in terms:
                if cf_local[t] == 0:
                    continue
                tn = 0.0
                for d in docs:
                    tn = self._logsum(
                        tn, dts(t, float(w), d) + rsv_of[(qid, d)]
                    )
                normalizer = self._logsum(normalizer, tn)
            sum_qf = 0.0
            for t, w in terms:
                if cf_local[t] == 0:
                    qf_scale[(qid, t)] = float(w)
                    continue
                tn = 0.0
                for d in docs:
                    tn = self._logsum(
                        tn,
                        dts(t, float(w), d)
                        + rsv_of[(qid, d)]
                        - normalizer,
                    )
                new_qf = (1.0 - lam) * float(w) / terms_in_q + lam * math.exp(
                    tn
                )
                qf_scale[(qid, t)] = new_qf
                sum_qf += new_qf
            nq2[qid] = sum_qf
        # pass 2: same terms, float weights, query length = their sum
        qmap2: dict[str, list[tuple[int, int, float]]] = {}
        for qid, terms in parsed.items():
            for t, _w in terms:
                qmap2.setdefault(t, []).append((qid, 1, 1.0))
        if not qmap2:
            return _local_result(self.spark)
        hits = self.postings.filter(F.col("term").isin(list(qmap2)))
        return self._search_puurula(
            hits, qmap2, nq2, k, "lmp", qf_scale=qf_scale
        )

    # ------------------------------------------------------------------
    def expand_query_terms(
        self, text: str, thesaurus
    ) -> list[tuple[str, int, float]]:
        """Classic thesaurus query expansion at parse time
        (atire_api.c:583-588 ``set_query_expansion`` feeding
        nexi.c:484-495): each CO search term's synset terms are
        appended to the query as additional terms at the same weight.
        Returns a ``parsed_terms``-shaped bag [(term, multiplicity,
        postscalar)] with the query-side stemming gate applied to
        original and expanded terms alike (the reference stems
        expanded terms in process_one_term when the index is stemmed).

        Deviation (documented in atire_spark/thesaurus.py): the
        reference's string_pair get_synset zeroes the relationship
        mask after the first call (thesaurus.c:20), so its classic
        expansion only ever expands one term per process — an evident
        bug; here every term expands."""
        from atire_spark.kernels.stem import query_stem

        bag: Counter = Counter()
        for t in parse_nexi(text, self.cjk_segmenter):
            bag[query_stem(t.term, self.stemmer)] += 1
            for syn in thesaurus.get_synset(t.term):
                bag[query_stem(syn, self.stemmer)] += 1
        return [(term, mult, 1.0) for term, mult in bag.items()]

    def search_expanded(
        self,
        queries: list[tuple[int, str]],
        thesaurus,
        k: int = 10,
        ranker: str = "bm25",
    ) -> DataFrame:
        """Ranked search with classic thesaurus expansion: every
        expanded term scores independently like any other query term
        (the -W CLI mode, atire.c:898-899)."""
        parsed = {
            qid: self.expand_query_terms(text, thesaurus)
            for qid, text in queries
        }
        return self.search_batch(
            queries, k, ranker=ranker, parsed_terms=parsed
        )

    def search_conflated(
        self,
        queries: list[tuple[int, str]],
        thesaurus,
        k: int = 10,
    ) -> DataFrame:
        """In-place thesaurus expansion = synonym conflation
        (atire_api.c:571-576 ``set_inplace_query_expansion``,
        search_engine.c:1369-1461 process_one_thesaurus_search_term):
        per query term, the postings of the term and all its synset
        terms are merged into ONE term-frequency vector — per-doc tf
        summed and capped at 255, document frequency recomputed from
        the merged vector (ranking_function.c:142-154 tf_to_postings)
        — then ranked as if it were a single BM25 search term; a term
        whose merged df == N contributes nothing (bm25.c:91-92).
        Faithful quirk kept: synset members that stem to the SAME
        index term are each added (the reference re-reads the postings
        per member), so their tf counts double.

        Plan shape (100 TB): union of all member terms is ONE pushed
        isin filter on the postings scan (parquet file pruning); the
        vectorized segment decode fans rows out to their (query,
        group) owners; a single hash shuffle on (query, group, docid)
        merges the tf vectors; df, the float32 length prior, and the
        fixed-point BM25 contribution are whole-stage-codegen column
        expressions (no Python past the decode); the final accumulate
        + top-k reuses the bounded-window rank path. Quantized indexes
        are refused — their postings carry impacts, not tfs.
        """
        if self.quantized:
            raise ValueError(
                "synonym conflation needs raw term frequencies; the "
                "index is quantized (atire_api.c:477)"
            )
        from atire_spark.kernels.bm25 import BM25_B, BM25_K1
        from atire_spark.kernels.stem import query_stem

        # member term -> [(qid, gid, copies)]; group -> query weight
        term_groups: dict[str, list[tuple[int, int, int]]] = {}
        group_weight: dict[tuple[int, int], int] = {}
        for qid, text in queries:
            # parse raw tokens (the thesaurus holds surface words);
            # stem members for index lookup afterwards
            raw_bag = Counter(
                t.term for t in parse_nexi(text, self.cjk_segmenter)
            )
            for gid, (base, weight) in enumerate(sorted(raw_bag.items())):
                members = Counter([query_stem(base, self.stemmer)])
                for syn in thesaurus.get_synset(base):
                    members[query_stem(syn, self.stemmer)] += 1
                group_weight[(qid, gid)] = int(weight)
                for m, copies in members.items():
                    term_groups.setdefault(m, []).append((qid, gid, copies))
        if not term_groups:
            return _local_result(self.spark)

        hits = self.postings.filter(F.col("term").isin(list(term_groups)))
        codec = self.codec

        def decode_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from atire_spark.kernels.impact import decode_segment

            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    docids, tfs, lens = decode_segment(
                        np.asarray(row.impacts),
                        np.asarray(row.doc_counts),
                        row.postings,
                        row.doc_lens,
                        codec=codec,
                        byte_offsets=np.asarray(row.byte_offsets),
                    )
                    for qid, gid, copies in term_groups[row.term]:
                        out.append(
                            pd.DataFrame(
                                {
                                    "query_id": np.full(
                                        docids.size, qid, dtype=np.int64
                                    ),
                                    "gid": np.full(
                                        docids.size, gid, dtype=np.int64
                                    ),
                                    "docid": docids,
                                    "tf": tfs.astype(np.int64) * copies,
                                    "doc_len": lens.astype(np.int64),
                                }
                            )
                        )
                if out:
                    yield pd.concat(out, ignore_index=True)

        rows = hits.mapInPandas(
            decode_fn,
            schema=(
                "query_id long, gid long, docid long, tf long, doc_len long"
            ),
        )
        merged = rows.groupBy("query_id", "gid", "docid").agg(
            F.least(F.sum("tf"), F.lit(255)).alias("tf"),  # cap at 255
            F.max("doc_len").alias("doc_len"),
        )
        # per-group df is a TINY aggregate (≤ queries × terms rows):
        # broadcast it back instead of a Window over (query_id, gid),
        # which would re-shuffle every merged posting on a prefix of
        # the keys it was just hashed by (AQE reuses the exchange for
        # both consumers); the inner join drops df == N groups (idf 0
        # → the whole group contributes nothing)
        gdf = (
            merged.groupBy("query_id", "gid")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") != F.lit(self.n_docs))
        )
        merged = merged.join(F.broadcast(gdf), ["query_id", "gid"])
        wtab = self.spark.createDataFrame(
            [(q, g, w) for (q, g), w in group_weight.items()],
            "query_id long, gid long, weight long",
        )
        k1, b = BM25_K1, BM25_B
        prior = (
            (
                F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * (F.col("doc_len") / F.lit(self.mean_doc_len))
                )
            )
            .cast("float")  # the reference's float32 prior array
            .cast("double")
        )
        tf_d = F.col("tf").cast("double")
        rsv = (
            F.log(F.lit(float(self.n_docs)) / F.col("df").cast("double"))
            * ((tf_d * F.lit(k1 + 1.0)) / (tf_d + prior))
        )
        contrib = (
            F.col("weight")
            * (F.lit(1) + F.floor(rsv * F.lit(100.0)).cast("long"))
        ).alias("contrib")
        scored = merged.join(F.broadcast(wtab), ["query_id", "gid"]).select(
            "query_id", "docid", contrib
        )
        accum = scored.groupBy("query_id", "docid").agg(
            accum_value_col(F.sum("contrib")).alias("rsv_fixed")
        )
        return self._rank_topk(accum, k)

    # ------------------------------------------------------------------
    def precompute_stem_classes(self, stemmer: str) -> DataFrame:
        """Materialize the vocabulary → stem-class map for ``stemmer``
        once per engine (a pure function of the vocabulary — the
        reference's in-process btree iterator pays nothing per query
        because the vocabulary is resident, stemmer.c:14-48; this is
        the Spark analogue: pay the full-vocabulary stem pass once,
        then every stem-iterator query is a pushed filter over the
        persisted map instead of a distinct + stem scan of the
        postings). Returns the persisted (term, stem, cprefix) frame;
        idempotent per stemmer. At cluster scale the same table can be
        written next to the index (it is ~vocabulary-sized) and
        reloaded instead of recomputed."""
        cached = self._stem_class_tables.get(stemmer)
        if cached is not None:
            return cached
        from atire_spark.kernels.stem import _STEM_FN, class_prefix

        fn = _STEM_FN[stemmer]

        def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                terms = list(pdf["term"])
                stems = [fn(t) for t in terms]
                yield pd.DataFrame(
                    {
                        "term": terms,
                        "stem": stems,
                        "cprefix": [class_prefix(stemmer, s) for s in stems],
                    }
                )

        tab = (
            self.postings.select("term")
            .distinct()
            .mapInPandas(map_fn, "term string, stem string, cprefix string")
            .persist()
        )
        tab.count()
        self._stem_class_tables[stemmer] = tab
        return tab

    def _stem_class_candidates_df(
        self, bases: list[str], stemmer: str
    ) -> DataFrame:
        """Query-side stem classes as a DISTRIBUTED frame (base, term),
        never collected here (stemmer.c:14-48 first/next): for each
        base term, the vocabulary terms that (a) share the class
        PREFIX ``stem[:L]`` where L is the ATIRE stem()'s return value
        (kernels.stem.CLASS_PREFIX_LEN — 2 for porter/snowball, 3 for
        paice_husk/otago, 1 for the phonetic codes, full stem for
        s/krovetz); the btree walk begins at the prefix and stops at
        the first non-prefixed term — and (b) stem to the same string.

        Plan: the term vocabulary is a column-pruned distinct over the
        postings scan with the class prefixes pushed down as
        StringStartsWith filters (parquet min/max pruning — the
        distributed analogue of the btree range walk); the stem check
        runs vectorized in mapInPandas against the broadcast query
        stems; the (stem → base) fan-out joins on the tiny driver
        table. Nothing vocabulary-sized ever reaches the driver — a
        1-char phonetic prefix over a 10^8-term vocabulary stays a
        DataFrame end to end."""
        from atire_spark.kernels.stem import _STEM_FN, class_prefix

        fn = _STEM_FN[stemmer]
        base_stems = {b: fn(b) for b in bases}
        stems = sorted(set(base_stems.values()))
        prefixes = sorted({class_prefix(stemmer, s) for s in stems})
        if not prefixes:
            return self.spark.createDataFrame([], "base string, term string")

        precomp = self._stem_class_tables.get(stemmer)
        if precomp is not None:
            # the map already holds every term's stem + class prefix:
            # candidates are a pushed filter over the persisted table
            matched = precomp.filter(
                F.col("stem").isin(stems)
                & F.col("term").startswith(F.col("cprefix"))
            ).select("term", "stem")
            base_tab = self.spark.createDataFrame(
                [(b, s) for b, s in sorted(base_stems.items())],
                "base string, stem string",
            )
            return matched.join(F.broadcast(base_tab), "stem").select(
                "base", "term"
            )
        cond = F.col("term").startswith(prefixes[0])
        for s in prefixes[1:]:
            cond = cond | F.col("term").startswith(s)
        vocab = self.postings.select("term").filter(cond).distinct()
        stems_set = set(stems)

        def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_t, out_s = [], []
                for t in pdf["term"]:
                    st = fn(t)
                    if st in stems_set and t.startswith(
                        class_prefix(stemmer, st)
                    ):
                        out_t.append(t)
                        out_s.append(st)
                yield pd.DataFrame({"term": out_t, "stem": out_s})

        matched = vocab.mapInPandas(map_fn, "term string, stem string")
        base_tab = self.spark.createDataFrame(
            [(b, s) for b, s in sorted(base_stems.items())],
            "base string, stem string",
        )
        return matched.join(F.broadcast(base_tab), "stem").select(
            "base", "term"
        )

    def stem_class_candidates(
        self, bases: list[str], stemmer: str
    ) -> dict[str, list[str]]:
        """Driver-side view of :meth:`_stem_class_candidates_df` —
        base → class members in lexicographic (btree) order. Collects
        the matched classes, so only use when the class population is
        known query-bounded; :meth:`search_stemmed_iterator` counts
        first and keeps huge classes distributed."""
        by_base: dict[str, list[str]] = {b: [] for b in bases}
        for r in self._stem_class_candidates_df(bases, stemmer).collect():
            by_base[r["base"]].append(r["term"])
        for terms in by_base.values():
            terms.sort()  # btree order
        return by_base

    def _decoded_postings_df(self, terms) -> DataFrame:
        """Decode the given terms' postings to a DISTRIBUTED frame
        (term, docid, tf, doc_len) — the Spark-side analogue of the
        reference's random-access get_decompressed_postings reads
        (stemmer_term_similarity.c:68/105). ``terms`` is a list
        (pushed down as an In filter → parquet file pruning) or a
        DataFrame with a ``term`` column (semi-joined — the web-scale
        path where the involved set is itself too big to inline)."""
        if isinstance(terms, DataFrame):
            hits = self.postings.join(
                terms.select("term").distinct(), "term", "left_semi"
            )
        else:
            hits = self.postings.filter(F.col("term").isin(list(terms)))
        codec = self.codec

        def decode_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from atire_spark.kernels.impact import decode_segment

            for pdf in batches:
                cols: dict[str, list] = {"term": [], "docid": [], "tf": [], "doc_len": []}
                for row in pdf.itertuples(index=False):
                    docids, tfs, lens = decode_segment(
                        np.asarray(row.impacts),
                        np.asarray(row.doc_counts),
                        row.postings,
                        row.doc_lens,
                        codec=codec,
                        byte_offsets=np.asarray(row.byte_offsets),
                    )
                    cols["term"].append(np.full(docids.size, row.term, dtype=object))
                    cols["docid"].append(docids)
                    cols["tf"].append(tfs.astype(np.int64))
                    cols["doc_len"].append(lens.astype(np.int64))
                if cols["term"]:
                    yield pd.DataFrame(
                        {k: np.concatenate(v) for k, v in cols.items()}
                    )

        return hits.mapInPandas(
            decode_fn, schema="term string, docid long, tf long, doc_len long"
        )

    def _pairwise_similarity(self, pairs: DataFrame) -> DataFrame:
        """(base, cand) pairs → (base, cand, sim): the reference's
        postings-cosine gate (stemmer_term_similarity.c:90-158)
        computed DISTRIBUTED but bit-exactly — each pair's two decoded
        posting lists co-locate on one executor (shuffle by pair) and
        the kernel runs the reference's strict left fold in the
        candidate's posting order there, so the summation order (and
        hence the last float bits) matches the in-process reference.
        A pair's work is bounded by its two terms' df — the same bound
        the reference pays per candidate — and pairs fan out across
        the cluster instead of serializing on the driver."""
        from atire_spark.kernels.termsim import (
            reference_posting_order,
            term_similarity,
        )

        involved = (
            pairs.select(F.col("base").alias("term"))
            .unionByName(pairs.select(F.col("cand").alias("term")))
            .distinct()
        )
        decoded = self._decoded_postings_df(involved)
        side_a = decoded.join(
            pairs, decoded["term"] == pairs["base"]
        ).select(
            "base", "cand", F.lit(0).alias("side"), "docid", "tf", "doc_len"
        )
        side_b = decoded.join(
            pairs, decoded["term"] == pairs["cand"]
        ).select(
            "base", "cand", F.lit(1).alias("side"), "docid", "tf", "doc_len"
        )
        both = side_a.unionByName(side_b)
        n_docs = self.n_docs

        def fold(key, pdf):
            base, cand = key
            a = pdf[pdf["side"] == 0]
            b = pdf[pdf["side"] == 1]
            bd, bt = reference_posting_order(
                a["docid"].to_numpy(), a["tf"].to_numpy()
            )
            cd, ct = reference_posting_order(
                b["docid"].to_numpy(), b["tf"].to_numpy()
            )
            doc_len_of = dict(
                zip(pdf["docid"].astype(int), pdf["doc_len"].astype(int))
            )
            sim = term_similarity(
                bd, bt, cd, ct, doc_len_of, n_docs,
                df_a=max(bd.size, 1), df_b=max(cd.size, 1),
            )
            return pd.DataFrame(
                {"base": [base], "cand": [cand], "sim": [sim]}
            )

        return both.groupBy("base", "cand").applyInPandas(
            fold, schema="base string, cand string, sim double"
        )

    def search_stemmed_iterator(
        self,
        queries: list[tuple[int, str]],
        stemmer: str = "s",
        k: int = 10,
        similarity: str | None = None,
        value: float = 0.0,
    ) -> DataFrame:
        """Query-side stemming over an UNSTEMMED index — the
        reference's stemmer-iterator search (atire_api.c:843-930
        search_term_at_a_time with a stemmer → search_engine.c:
        1262-1360 stem_into_internal_buffers): each query term's stem
        class conflates into one tf vector (per-doc sum, cap 255, df
        recomputed — ranking_function.c:122-211 tf_to_postings) and
        ranks as a single BM25 term.

        ``similarity`` selects the similarity-gated wrappers
        (stemmer_factory.c:71-72):

        - ``"threshold"`` (stemmer_term_similarity_threshold.c): keep
          only class members whose postings-cosine similarity to the
          base term is ≥ ``value``; the base term itself always passes
          (the strcmp short-circuit); NaN similarities (a df == N
          side) compare false and are kept;
        - ``"weighted"`` (stemmer_term_similarity_weighted.c): keep
          all members but scale their tfs by ``pow(similarity,
          value)`` (base term weight 1.0) — the reference needs the
          USE_FLOATED_TF build for this (integer-tf builds ignore the
          weights, search_engine.c:1218-1222); the weighted tf vector
          truncates at the impact bucketing ((size_t) cast +
          255 cap, ranking_function.c:149-151), so a doc whose
          weighted sum lands in (0, 1) scores at impact 0 (a bare
          +1 accumulator hit).

        Gates (atire_api.c:913): a term enters the iterator only when
        its first char is a lowercase letter and it is ≥ 3 chars;
        other terms score as plain single-term lookups (identical
        math: a singleton class's recomputed df equals its stored df).

        The similarity gates run distributed either way
        (:meth:`_pairwise_similarity` — per-pair co-located fold, no
        postings ever collect to the driver). Class-member routing is
        two-path on :data:`CLASS_COLLECT_MAX`: when the matched classes
        are query-bounded (≤ the cap) they collect like the
        reference's iterator and the member terms push down as an In
        filter (parquet file pruning); a larger class population —
        a 1-char phonetic prefix on a web-scale vocabulary — stays a
        DataFrame end to end and reaches the postings through joins.
        Both paths share the scoring tail, so results are identical
        (tests assert it).

        The merge shuffle folds member tfs in lexicographic term
        order (sort_array + aggregate) — the iterator's btree order —
        so weighted double sums are bit-identical to the reference's
        accumulation, not exchange-order-dependent.
        """
        if self.stemmer is not None and stemmer != self.stemmer:
            # the reference auto-builds the iterator from the index's
            # recorded ~stemmer (search_engine.c:286-290); walking a
            # stemmed vocabulary with a DIFFERENT stemmer silently
            # misses everything
            raise ValueError(
                "this index was built with ~stemmer "
                f"{self.stemmer!r}; the iterator must use the same"
            )
        # release the conflation intermediates pinned for the PREVIOUS
        # iterator result (its frame has been consumed by now)
        for old in self._iter_conf_cache:
            old.unpersist()
        self._iter_conf_cache.clear()
        if self.quantized:
            raise ValueError(
                "stem conflation needs raw term frequencies; the index "
                "is quantized (atire_api.c:477)"
            )
        if similarity not in (None, "threshold", "weighted"):
            raise ValueError(f"unknown similarity mode {similarity!r}")

        # parse + gate
        gated: list[tuple[int, int, str, int, bool]] = []  # qid,gid,base,w,iter?
        for qid, text in queries:
            raw_bag = Counter(
                t.term for t in parse_nexi(text, self.cjk_segmenter)
            )
            for gid, (base, weight) in enumerate(sorted(raw_bag.items())):
                use_iter = len(base) >= 3 and "a" <= base[0] <= "z"
                gated.append((qid, gid, base, int(weight), use_iter))
        if not gated:
            return _local_result(self.spark)

        bases = sorted({b for _, _, b, _, u in gated if u})
        overflow = False
        classes: dict[str, list[str]] = {}
        if bases:
            # driver-side per-base member cache: the class map is a
            # pure function of the immutable vocabulary (the
            # reference's in-RAM btree walk costs ~0 per repeat query;
            # this is its driver analogue), so a base probed once
            # never pays the probe job again. Only bases not yet
            # cached go to the probe; the cap still bounds what the
            # driver holds.
            missing = [
                b for b in bases if (stemmer, b) not in self._class_member_cache
            ]
            if missing:
                cdf = self._stem_class_candidates_df(missing, stemmer)
                # one probe job doubles as the collect: take(cap+1)
                # either returns the COMPLETE class set (≤ cap rows —
                # the normal query case) or proves it exceeds the cap
                head = cdf.take(CLASS_COLLECT_MAX + 1)
                if len(head) > CLASS_COLLECT_MAX:
                    overflow = True
                else:
                    if len(self._class_member_cache) > 65536:
                        self._class_member_cache.clear()  # bound it
                    fetched: dict[str, list[str]] = {b: [] for b in missing}
                    for r in head:
                        fetched[r["base"]].append(r["term"])
                    for b, ts in fetched.items():
                        self._class_member_cache[(stemmer, b)] = sorted(ts)
            if not overflow:
                classes = {
                    b: self._class_member_cache[(stemmer, b)] for b in bases
                }
                overflow = (
                    sum(len(ts) for ts in classes.values())
                    > CLASS_COLLECT_MAX
                )
        if not overflow:
            return self._stemmed_iter_collected(
                gated, classes, k, similarity, value
            )
        classes_df = self._stem_class_candidates_df(bases, stemmer).persist()
        try:
            return self._stemmed_iter_distributed(
                gated, classes_df, k, similarity, value
            )
        finally:
            classes_df.unpersist()

    def _stemmed_iter_collected(
        self, gated, classes, k, similarity, value
    ) -> DataFrame:
        """Query-bounded classes: ``classes`` maps base → sorted
        (btree-order) member list (≤ CLASS_COLLECT_MAX total), gated
        with driver logic, member list pushed down as an In filter —
        the fast path for real queries."""
        groups: dict[tuple[int, int], tuple[int, list[tuple[str, float]]]] = {}
        if similarity is not None:
            pairs = set()
            for _, _, base, _, use_iter in gated:
                if use_iter:
                    for cand in classes.get(base, []):
                        if cand != base:
                            pairs.add((base, cand))
            # pair similarities are pure functions of the immutable
            # postings (stemmer_term_similarity.c recomputes them per
            # query off the in-RAM index); cache them driver-side so a
            # repeated pair never pays the similarity job again
            sims = self._pair_sim_cache
            todo = sorted(p for p in pairs if p not in sims)
            if todo:
                if len(sims) > 262144:
                    sims.clear()  # bound it
                pairs_df = self.spark.createDataFrame(
                    todo, "base string, cand string"
                )
                for r in self._pairwise_similarity(pairs_df).collect():
                    sims[(r["base"], r["cand"])] = float(r["sim"])
        for qid, gid, base, weight, use_iter in gated:
            if not use_iter:
                groups[(qid, gid)] = (weight, [(base, 1.0)])
                continue
            members: list[tuple[str, float]] = []
            for cand in classes.get(base, []):
                if similarity == "threshold" and cand != base:
                    s = sims[(base, cand)]
                    if s < value:  # NaN compares false → kept
                        continue
                    members.append((cand, 1.0))
                elif similarity == "weighted" and cand != base:
                    members.append(
                        (cand, float(np.power(sims[(base, cand)], value)))
                    )
                else:
                    members.append((cand, 1.0))
            if members:
                groups[(qid, gid)] = (weight, members)
        if not groups:
            return _local_result(self.spark)

        fanout: dict[str, list[tuple[int, int, float]]] = {}
        for (qid, gid), (_wt, members) in groups.items():
            for term, w in members:
                fanout.setdefault(term, []).append((qid, gid, w))
        weights = {(q, g): w for (q, g), (w, _m) in groups.items()}
        # pushed In filter → parquet file pruning; the member fan-out
        # rides the task closure (query-bounded), not a join
        hits = self.postings.filter(F.col("term").isin(sorted(fanout)))
        return self._stemmed_iter_score(hits, fanout, weights, k)

    def _stemmed_iter_distributed(
        self, gated, classes_df, k, similarity, value
    ) -> DataFrame:
        """Web-scale classes (> CLASS_COLLECT_MAX members): everything
        stays a DataFrame — members come from the classes join, the
        similarity gate filters in SQL (Spark's NaN > any-number
        semantics keep NaN sims exactly like the reference's
        ``NaN < t == false``), and the postings filter is a semi-join
        instead of an In literal. No driver round-trip anywhere."""
        gated_df = self.spark.createDataFrame(
            gated,
            "query_id long, gid long, base string, weight long, "
            "use_iter boolean",
        )
        iter_m = (
            gated_df.filter("use_iter")
            .join(classes_df, "base")
            .select("query_id", "gid", "base", "weight", "term")
        )
        if similarity is not None:
            pairs_df = classes_df.filter(
                F.col("term") != F.col("base")
            ).select("base", F.col("term").alias("cand"))
            sims_df = self._pairwise_similarity(pairs_df)
            iter_m = iter_m.join(
                sims_df,
                (iter_m["base"] == sims_df["base"])
                & (iter_m["term"] == sims_df["cand"]),
                "left",
            ).select(iter_m["*"], "sim")
            if similarity == "threshold":
                # base always passes; NaN sim is kept (NaN < t is
                # false in C; in Spark NaN > every number so the same
                # filter keeps it)
                iter_m = iter_m.filter(
                    (F.col("term") == F.col("base"))
                    | ~(F.col("sim") < F.lit(float(value)))
                ).withColumn("w", F.lit(1.0))
            else:  # weighted
                iter_m = iter_m.withColumn(
                    "w",
                    F.when(
                        F.col("term") == F.col("base"), F.lit(1.0)
                    ).otherwise(F.pow(F.col("sim"), F.lit(float(value)))),
                )
        else:
            iter_m = iter_m.withColumn("w", F.lit(1.0))
        direct = gated_df.filter(~F.col("use_iter")).select(
            "query_id",
            "gid",
            F.col("base").alias("term"),
            "weight",
            F.lit(1.0).alias("w"),
        )
        members_df = iter_m.select(
            "query_id", "gid", "term", "weight", "w"
        ).unionByName(direct)
        # weights come from the PARSED QUERY (driver-known in both
        # paths), never from data — only the member population is big
        weights = {(qid, gid): int(w) for qid, gid, _b, w, _u in gated}
        return self._stemmed_iter_score(
            self.postings, members_df, weights, k
        )

    def _stemmed_iter_score(
        self, hits: DataFrame, members, weights: dict, k: int
    ) -> DataFrame:
        """Shared scoring tail: deterministic left fold of member tfs
        in btree (term) order per (query, group, doc), recomputed df
        per group, single-term BM25 over the conflated tf — identical
        for the collected and the distributed member paths.

        Plan shape (two jobs, the same seg_group co-location argument
        as :meth:`_search_grouped`): ``hits`` is the matching SEGMENT
        rows; one hash repartition on seg_group puts every docid's
        segments for all member terms in one task, where the
        conflation (decode → term-ordered fold → impact bucket)
        completes locally. The only global quantity is each group's
        recomputed df — job 1 counts the conflated frame per group
        (#groups rows collected, query-bounded by construction).
        Job 2 scores off the persisted conflation, accumulates across
        groups and takes the per-partition top-k locally (docid ranges
        are disjoint across partitions), so the final exchange carries
        ≤ k·partitions candidate rows into the global rank window.

        ``members`` routes the term → (query, group, w) fan-out:
        a driver dict rides the task closure (collected path — no
        join, no broadcast exchange: measured ~0.3 s per query batch
        cheaper than broadcasting a LocalRelation), or a DataFrame
        joins on term (distributed path, population too big to
        collect). ``weights`` maps (query_id, gid) → query weight
        (driver-known in both paths: it comes from the parsed query,
        never from data)."""
        from atire_spark.kernels.bm25 import BM25_B, BM25_K1, accum_value

        n_docs, mean_len, codec = self.n_docs, self.mean_doc_len, self.codec
        seg_cols = [
            "term", "seg_group", "impacts", "doc_counts", "postings",
            "doc_lens", "byte_offsets",
        ]
        if isinstance(members, DataFrame):
            rep = hits.join(
                members.select("query_id", "gid", "term", "w"), "term"
            ).select("query_id", "gid", "w", *seg_cols).repartition(
                "seg_group"
            )
            closure_members = None
        else:
            rep = hits.select(*seg_cols).repartition("seg_group")
            closure_members = members

        def conflate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from atire_spark.kernels.impact import decode_segment

            qs, gs, ds, ws, ls, ts = [], [], [], [], [], []
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    fanout = (
                        closure_members.get(row.term, ())
                        if closure_members is not None
                        else ((row.query_id, row.gid, row.w),)
                    )
                    if not fanout:
                        continue
                    docids, tfs, lens = decode_segment(
                        np.asarray(row.impacts),
                        np.asarray(row.doc_counts),
                        row.postings,
                        row.doc_lens,
                        codec=codec,
                        byte_offsets=np.asarray(row.byte_offsets),
                    )
                    n = docids.size
                    if not n:
                        continue
                    d64 = docids.astype(np.int64)
                    t64 = tfs.astype(np.float64)
                    l64 = lens.astype(np.int64)
                    tobj = np.full(n, row.term, dtype=object)
                    for qid, gid, w in fanout:
                        qs.append(np.full(n, qid, np.int64))
                        gs.append(np.full(n, gid, np.int64))
                        ds.append(d64)
                        ws.append(t64 * float(w))
                        ls.append(l64)
                        ts.append(tobj)
            if not qs:
                return
            q = np.concatenate(qs)
            g = np.concatenate(gs)
            d = np.concatenate(ds)
            wtf = np.concatenate(ws)
            ln = np.concatenate(ls)
            t = np.concatenate(ts)
            # group by (query, gid, docid); WITHIN a group the fold
            # runs in lexicographic term order — the iterator's btree
            # order, so weighted double sums are bit-identical to the
            # reference's accumulation (np.add.reduceat applies the
            # fold left to right over each sorted run)
            order = np.lexsort((t, d, g, q))
            q, g, d = q[order], g[order], d[order]
            wtf, ln = wtf[order], ln[order]
            new = np.empty(q.size, dtype=bool)
            new[0] = True
            new[1:] = (
                (q[1:] != q[:-1]) | (g[1:] != g[:-1]) | (d[1:] != d[:-1])
            )
            starts = np.flatnonzero(new)
            wsum = np.add.reduceat(wtf, starts)
            keep = wsum != 0.0  # *current != 0
            # impact bucketing: cap at 255 then (size_t) truncation
            with np.errstate(invalid="ignore"):
                tf = np.where(
                    wsum >= 256.0, 255.0, np.floor(wsum)
                ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "query_id": q[starts][keep],
                    "gid": g[starts][keep],
                    "docid": d[starts][keep],
                    "tf": tf[keep],
                    "doc_len": ln[starts][keep],
                }
            )

        conf = rep.mapInPandas(
            conflate,
            schema="query_id long, gid long, docid long, tf long, "
            "doc_len long",
        )
        GKEY = 1 << 20  # gid < 2^20 (terms per query)
        # job 1: each group's recomputed df — #groups rows, a pure
        # function of the parsed query (never data-sized). A group's
        # conflated df depends only on its weighted member set over
        # the immutable index, so it is cached driver-side by that
        # signature — a repeated query (the common interactive case)
        # skips this job entirely and the whole search is ONE action.
        group_sig: dict[int, tuple] | None = None
        if closure_members is not None:
            inv: dict[int, list] = {}
            for term, fan in closure_members.items():
                for qid, gid, w in fan:
                    inv.setdefault(int(qid) * GKEY + int(gid), []).append(
                        (term, float(w))
                    )
            group_sig = {kk: tuple(sorted(v)) for kk, v in inv.items()}
        if group_sig is not None and all(
            sig in self._class_df_cache for sig in group_sig.values()
        ):
            # cached dfs → conf has exactly one consumer (the score
            # pass): leave it unpersisted so conflate + score pipeline
            # into a single stage — the whole search is ONE action of
            # scan → exchange → (conflate·score) → exchange → window
            dfm = {
                kk: self._class_df_cache[sig]
                for kk, sig in group_sig.items()
            }
        else:
            # the df job and the score pass both consume conf —
            # persist it; the pin backs the RETURNED lazy frame too
            # (re-collect without recompute) and is released on the
            # next iterator call
            conf = conf.persist()
            self._iter_conf_cache.append(conf)
            dfm = {
                int(r["query_id"]) * GKEY + int(r["gid"]): int(r["cnt"])
                for r in conf.groupBy("query_id", "gid")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            if group_sig is not None:
                if len(self._class_df_cache) > 65536:
                    self._class_df_cache.clear()  # bound it
                for kk, sig in group_sig.items():
                    # a group absent from dfm conflated to nothing
                    self._class_df_cache[sig] = dfm.get(kk, 0)
                dfm = {
                    kk: self._class_df_cache[sig]
                    for kk, sig in group_sig.items()
                }
        # df == N → idf 0 → the group contributes nothing (df == 0:
        # no member posting survived conflation)
        dfm = {kk: v for kk, v in dfm.items() if v not in (0, n_docs)}
        if not dfm:
            return _local_result(self.spark)
        wmap = {
            int(qid) * GKEY + int(gid): int(w)
            for (qid, gid), w in weights.items()
        }
        k1, b = BM25_K1, BM25_B

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qs, ds, cs = [], [], []
            for pdf in batches:
                if not len(pdf):
                    continue
                qv = pdf["query_id"].to_numpy(np.int64)
                gv = pdf["gid"].to_numpy(np.int64)
                key = pd.Series(qv * GKEY + gv)
                dfv = key.map(dfm).to_numpy(np.float64, na_value=0.0)
                wv = key.map(wmap).to_numpy(np.float64, na_value=0.0)
                live = (dfv > 0) & (wv != 0)
                if not live.any():
                    continue
                dv = pdf["docid"].to_numpy(np.int64)[live]
                tfv = pdf["tf"].to_numpy(np.float64)[live]
                lnv = pdf["doc_len"].to_numpy(np.float64)[live]
                qv, dfv, wv = qv[live], dfv[live], wv[live]
                # float32 prior, like the reference's fixed-point
                # BM25 (and _segment_contrib)
                prior = (
                    (k1 * ((1.0 - b) + b * (lnv / mean_len)))
                    .astype(np.float32)
                    .astype(np.float64)
                )
                rsv = np.log(float(n_docs) / dfv) * (
                    (tfv * (k1 + 1.0)) / (tfv + prior)
                )
                qs.append(qv)
                ds.append(dv)
                cs.append(
                    wv.astype(np.int64)
                    * (1 + np.floor(rsv * 100.0).astype(np.int64))
                )
            if not qs:
                return
            q = np.concatenate(qs)
            d = np.concatenate(ds)
            c = np.concatenate(cs)
            # cross-group accumulator sum per (query, docid) —
            # integer adds, order-free — then the 16-bit wrap
            order = np.lexsort((d, q))
            q, d, c = q[order], d[order], c[order]
            new = np.empty(q.size, dtype=bool)
            new[0] = True
            new[1:] = (q[1:] != q[:-1]) | (d[1:] != d[:-1])
            starts = np.flatnonzero(new)
            tot = accum_value(np.add.reduceat(c, starts))
            qq, dd = q[starts], d[starts]
            # local exact top-k per query (docids complete here)
            sel = np.lexsort((-dd, -tot, qq))
            run = np.empty(sel.size, dtype=bool)
            run[0] = True
            run[1:] = qq[sel][1:] != qq[sel][:-1]
            rank = np.arange(sel.size) - np.maximum.accumulate(
                np.where(run, np.arange(sel.size), 0)
            )
            top = sel[rank < k]
            yield pd.DataFrame(
                {
                    "query_id": qq[top],
                    "docid": dd[top],
                    "rsv_fixed": tot[top],
                }
            )

        cand = conf.mapInPandas(
            score, schema="query_id long, docid long, rsv_fixed long"
        )
        return self._rank_topk(cand, k)

    def search_rerank(
        self,
        queries: list[tuple[int, str]],
        documents: DataFrame,
        k: int = 10,
        first_pass_k: int = 100,
    ) -> DataFrame:
        """Two-stage retrieval (reference ATIRE_API::rerank,
        atire_api.c:1716-1767): the first pass ranks the full index;
        the top ``first_pass_k`` documents are re-indexed as a fresh
        in-memory subcollection — its OWN N, mean length, df/cf — and
        the query is re-scored there.

        Faithful details: mini docids are assigned in first-pass rank
        order (index counts from 1, search from 0 → mini docid =
        rank−1, atire_api.c:1751); ties in the reranked list therefore
        put the INITIALLY-LOWER-ranked doc first (larger docid wins);
        a term occurring in every subcollection doc has idf 0 and
        contributes nothing (bm25.c:91-92) — a single-term query whose
        results all contain the term reranks to empty, like the
        reference. The k-bounded doc fetch matches the reference's RAM
        materialization of the top-k documents.
        """
        from atire_spark.kernels.stem import index_stem

        initial = self.search_batch(queries, k=first_pass_k)
        rows = (
            initial.join(self.index.docmap, "docid")
            .join(documents, ["conv_id", "turn_idx"])
            .select("query_id", "rank", "docid", "text")
            .collect()
        )
        per_q: dict[int, list[tuple[int, int, str]]] = {}
        for r in rows:
            per_q.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["docid"]), r["text"])
            )
        k1, b = BM25_K1, BM25_B
        out: list[tuple[int, int, int, int, float]] = []
        for qid, text in queries:
            docs = sorted(per_q.get(qid, []))
            if not docs:
                continue
            # mini index over the subcollection (docids = rank order)
            tfs: list[Counter] = []
            lens: list[int] = []
            for _rank, _docid, doc_text in docs:
                toks = tokenize(doc_text, cjk_segmenter=self.cjk_segmenter)
                if self.stemmer is not None:
                    toks = [index_stem(t, self.stemmer) for t in toks]
                lens.append(len(toks))
                tfs.append(Counter(toks))
            n_sub = len(docs)
            mean_sub = sum(lens) / n_sub
            acc = np.zeros(n_sub, dtype=np.int64)
            touched = np.zeros(n_sub, dtype=bool)
            for term, weight in parse_query(text, self.stemmer, self.cjk_segmenter):
                hit = [
                    (i, min(c[term], 255)) for i, c in enumerate(tfs) if term in c
                ]
                if not hit:
                    continue
                df_sub = len(hit)
                idf = float(np.log(np.float64(n_sub) / np.float64(df_sub)))
                if idf == 0.0:
                    continue  # df == N in the subcollection
                ids = np.asarray([i for i, _ in hit], dtype=np.int64)
                tf_d = np.asarray([t for _, t in hit], dtype=np.float64)
                prior = (
                    k1
                    * (
                        (1.0 - b)
                        + b
                        * (
                            np.asarray(
                                [lens[i] for i, _ in hit], dtype=np.float64
                            )
                            / mean_sub
                        )
                    )
                ).astype(np.float32)
                rsv = idf * (
                    (tf_d * (k1 + 1.0)) / (tf_d + prior.astype(np.float64))
                )
                acc[ids] += (1 + (rsv * 100.0).astype(np.int64)) * weight
                touched[ids] = True
            cand = np.flatnonzero(touched)
            if cand.size == 0:
                continue
            vals = accum_value(acc[cand])
            order = np.lexsort((-cand, -vals))[: min(k, cand.size)]
            for rnk, idx in enumerate(cand[order], start=1):
                out.append(
                    (
                        qid,
                        rnk,
                        docs[int(idx)][1],  # original docid
                        int(vals[order[rnk - 1]]),
                        int(vals[order[rnk - 1]]) / 100.0,
                    )
                )
        return _local_result(
            self.spark,
            pd.DataFrame(out, columns=_RESULT_ARROW.names) if out else None,
        )

    def more_like_this(
        self,
        docid: int,
        documents: DataFrame,
        k: int = 10,
        terms: int = 10,
        ranker: str = "bm25",
    ) -> DataFrame:
        """".morelike docid" (reference atire.c:488-504 →
        extract_query_terms, atire_api.c:1930-1950): the top ``terms``
        KL terms of one document become a plain query (weight 1, no
        postscalar)."""
        rows = (
            self.index.docmap.filter(F.col("docid") == int(docid))
            .join(documents, ["conv_id", "turn_idx"])
            .select("text")
            .collect()
        )
        key_terms = self._kl_select([r["text"] for r in rows], terms)
        if not key_terms:
            return _local_result(self.spark)
        parsed = {1: [(t, 1, 1.0) for t, _ in key_terms]}
        return self.search_batch(
            [(1, "")], k=k, ranker=ranker, parsed_terms=parsed
        )

    # ------------------------------------------------------------------
    def materialize(self, results: DataFrame) -> DataFrame:
        """Join results back to (conv_id, turn_idx) — the reference's
        internal-docid → external-ID step (search_engine.c:1547-1571)."""
        return results.join(self.index.docmap, "docid", "left").select(
            "query_id", "rank", "docid", "conv_id", "turn_idx", "rsv_fixed", "rsv"
        )
