"""The ingest_alert alert gate: the oracle-side expectation agrees with
the engine's standing-query matcher and catches a mis-scored batch."""

import pandas as pd

import check
import inputs
from atire_spark.oracle import OracleIndex
from atire_spark.stream_query import standing_query_matches


class BatchFrame:
    """Just enough of a DataFrame for ``standing_query_matches``: runs
    its ``mapInPandas`` function over one pandas batch."""

    def __init__(self, pdf):
        self.pdf = pdf

    def mapInPandas(self, fn, schema):
        out = list(fn(iter([self.pdf])))
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def _frozen(oracle: OracleIndex, standing) -> dict:
    terms = {t for _, q in standing for t in q.split()}
    return {
        "n_docs": oracle.n_docs,
        "mean_doc_len": oracle.mean_doc_len,
        "df": {t: int(oracle.postings[t][0].size) for t in terms if t in oracle.postings},
    }


def _alerts(batch, standing, stats) -> list[tuple]:
    got = standing_query_matches(BatchFrame(batch), standing, stats)
    return check.alert_rows(got.to_dict("records"))


def test_expected_alerts_match_the_engine_and_catch_wrong_stats():
    seed = 3
    earlier, _, _ = inputs.ingest_batch(40, seed, 0)
    batch, _, _ = inputs.ingest_batch(40, seed, 1)
    standing = inputs.standing_set(seed)
    before = OracleIndex.build(earlier)

    want = check.expected_alerts(before, batch, standing)
    assert len(want) > 10
    assert _alerts(batch, standing, _frozen(before, standing)) == want

    skewed = _frozen(before, standing)
    skewed["n_docs"] += 50
    assert _alerts(batch, standing, skewed) != want
