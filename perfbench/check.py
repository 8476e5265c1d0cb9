"""Expected answers from the independent oracle, and the comparisons
the correctness gates make."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from atire_spark.broker import merge_results, parse_hits
from atire_spark.kernels.bm25 import accum_value
from atire_spark.kernels.tokenizer import tokenize
from atire_spark.oracle import B, K1, TF_CAP, OracleIndex, _query_terms

PAGE = 10  # BrokerClient.search's default page: hits 1..10


def _hits(oracle: OracleIndex, query: str, k: int, base: int) -> list[dict]:
    top = oracle.search(query, k=k)
    names = oracle.docmap.set_index("docid")
    out = []
    for docid, rsv_fixed in zip(top["docid"], top["rsv_fixed"]):
        row = names.loc[int(docid)]
        out.append(
            {
                "id": int(docid) + base,
                "name": f"{row['conv_id']}:{int(row['turn_idx'])}",
                # the server prints rsv with two decimals and the
                # broker re-parses that text
                "rsv": float(f"{int(rsv_fixed) / 100.0:0.2f}"),
            }
        )
    return out


def expected_page(shards: list[OracleIndex], query: str) -> list[tuple]:
    """The first broker page for ``query``: each shard's oracle top
    ``1 + PAGE`` (what the broker asks every backend for), docids
    shifted by the preceding shards' document counts, merged by the
    broker's own rule. ``<numhits>`` is not compared: the backends
    report it truncated to k."""
    per, base = [], 0
    for o in shards:
        per.append(_hits(o, query, 1 + PAGE, base))
        base += o.n_docs
    return [(h["id"], h["name"], h["rsv"]) for h in merge_results(per)[:PAGE]]


def reply_page(reply: str) -> list[tuple]:
    return [(h["id"], h["name"], h["rsv"]) for h in parse_hits(reply, 0)]


def ranks_identical(rows, oracle: OracleIndex, queries: list[str], k: int) -> list[str]:
    """Queries whose engine top-k (``rows`` of search_batch with
    query_id = position + 1) differs from the oracle's in rank, docid
    or fixed-point rsv."""
    got: dict[int, list[tuple]] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["docid"]), int(r["rsv_fixed"]))
        )
    bad = []
    for qid, q in enumerate(queries, start=1):
        want = oracle.search(q, k=k)
        exp = list(
            zip(
                want["rank"].astype(int),
                want["docid"].astype(int),
                want["rsv_fixed"].astype(int),
            )
        )
        if sorted(got.get(qid, [])) != exp:
            bad.append(q)
    return bad


def alert_rows(matches) -> list[tuple]:
    """(conv_id, turn_idx, query_id, rsv_fixed) of each match row
    ``standing_query_matches`` produced."""
    return sorted(
        (m["conv_id"], int(m["turn_idx"]), int(m["query_id"]), int(m["rsv_fixed"]))
        for m in matches
    )


def expected_alerts(
    before: OracleIndex, batch: pd.DataFrame, standing: list[tuple[int, str]]
) -> list[tuple]:
    """The alerts ``batch`` should raise, computed apart from the
    engine: every turn scored against every standing query with the
    oracle's tokenizer, query parse and BM25 arithmetic (float32 length
    prior from the turn's own length, ``1 + trunc(100 rsv)`` per query
    term occurrence, signed 16-bit sum), N, mean document length and
    df taken from ``before`` — the oracle over the batches appended
    earlier. A term the earlier batches lack, or one in every earlier
    document, adds nothing; a turn alerts for a query when at least one
    term adds and the sum is positive. Same row form as ``alert_rows``."""
    queries = [(qid, _query_terms(q)) for qid, q in standing]
    out = []
    for conv_id, turn_idx, text in zip(batch["conv_id"], batch["turn_idx"], batch["text"]):
        toks = tokenize(text)
        if not toks:
            continue
        tf = Counter(toks)
        prior = float(
            np.float32(K1 * ((1.0 - B) + B * (len(toks) / before.mean_doc_len)))
        )
        for qid, terms in queries:
            total, hit = 0, False
            for t in terms:
                if t not in tf or t not in before.postings:
                    continue
                idf = float(
                    np.log(np.float64(before.n_docs) / np.float64(before.postings[t][0].size))
                )
                if idf == 0.0:
                    continue
                f = float(min(tf[t], TF_CAP))
                total += 1 + int(idf * ((f * (K1 + 1.0)) / (f + prior)) * 100.0)
                hit = True
            rsv_fixed = int(accum_value(total))
            if hit and rsv_fixed > 0:
                out.append((conv_id, int(turn_idx), int(qid), rsv_fixed))
    return sorted(out)
