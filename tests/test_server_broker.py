"""The interactive-server wire protocol + the broker's scatter-gather
(atire/atire.c server loop, atire/atire_broke.c merge): protocol
blocks match the engine's own rankings, and a real two-backend TCP
broker reproduces the DataFrame-level federation certified in
federate.py."""

from __future__ import annotations

import pandas as pd
import pytest

from atire_spark.build import build_index
from atire_spark.query import SearchEngine
from atire_spark.server import AtireProtocol, serve_tcp

CORPUS = pd.DataFrame(
    {
        "conv_id": [f"c{i:02d}" for i in range(20)],
        "turn_idx": [0] * 20,
        "text": [
            " ".join(
                ["alpha"] * (1 + i % 4)
                + ["bravo"] * (i % 3)
                + ["filler", "words"]
            )
            for i in range(20)
        ],
    }
)


@pytest.fixture(scope="module")
def proto(spark):
    eng = SearchEngine(spark, build_index(spark, spark.createDataFrame(CORPUS)))
    return AtireProtocol(eng, index_filename="idx.aspt", doclist_filename="dl")


class TestProtocol:
    def test_search_block_matches_engine(self, proto):
        lines = proto.handle_line(
            "<ATIREsearch><query>bravo</query><n>5</n></ATIREsearch>"
        )
        assert lines[0] == "<ATIREsearch>" and lines[-1] == "</ATIREsearch>"
        assert "<numhits>" in lines[1] and "<time>" in lines[1]
        hits = [ln for ln in lines if ln.startswith("<hit>")]
        want = proto.engine.search_batch([(1, "bravo")], k=5).collect()
        assert len(hits) == len(want)
        for ln, r in zip(hits, want):
            assert f"<id>{int(r['docid'])}</id>" in ln
            assert f"<rsv>{float(r['rsv']):0.2f}</rsv>" in ln
            assert f"<rank>{int(r['rank'])}</rank>" in ln
        # names come from the docmap key
        assert "<name>c" in hits[0]

    def test_bare_line_is_a_query(self, proto):
        a = proto.handle_line("bravo")
        b = proto.handle_line(
            "<ATIREsearch><query>bravo</query><n>10</n></ATIREsearch>"
        )
        assert [ln for ln in a if ln.startswith("<hit>")] == [
            ln for ln in b if ln.startswith("<hit>")
        ]

    def test_top_pagination(self, proto):
        full = proto.handle_line(
            "<ATIREsearch><query>bravo</query><n>10</n></ATIREsearch>"
        )
        page = proto.handle_line(
            "<ATIREsearch><query>bravo</query><top>3</top><n>2</n>"
            "</ATIREsearch>"
        )
        fh = [ln for ln in full if ln.startswith("<hit>")]
        ph = [ln for ln in page if ln.startswith("<hit>")]
        assert ph == fh[2:4]

    def test_describeindex(self, proto):
        lines = proto.handle_line("<ATIREdescribeindex>")
        assert lines[0] == "<ATIREdescribeindex>"
        assert f"<docnum>{proto.engine.n_docs}</docnum>" in lines
        assert any("<quantized>0</quantized>" == ln for ln in lines)
        dot = proto.handle_line(".describeindex")
        assert dot[2] == str(proto.engine.n_docs)

    def test_describeindex_runs_no_job(self, proto, jobs_of):
        """describeindex reads the stats row the engine collected at
        open: no Spark job, the same reply as from the stats table."""
        eng = proto.engine
        srow = eng.index.stats.collect()[0]
        lines, n_jobs = jobs_of(lambda: proto.handle_line("<ATIREdescribeindex>"))
        assert n_jobs == 0
        assert lines == [
            "<ATIREdescribeindex>",
            '<doclist filename="dl"/>',
            '<index filename="idx.aspt"/>',
            f"<docnum>{eng.n_docs}</docnum>",
            f"<termnum>{eng.collection_len}</termnum>",
            f"<uniquetermnum>{eng.unique_terms}</uniquetermnum>",
            "<quantized>0</quantized>",
            f"<quantmax>{float(srow['quant_max'] or 0.0)}</quantmax>",
            f"<quantmin>{float(srow['quant_min'] or 0.0)}</quantmin>",
            "<longestdoc>0</longestdoc>",
            "</ATIREdescribeindex>",
        ]

    def test_resident_request_runs_no_job(self, proto, jobs_of, monkeypatch):
        """A warm resident engine answers a request, names included,
        without a Spark job, and its reply is the one the distributed
        placement and the docmap's names give."""
        import atire_spark.query as query_mod

        q = "<ATIREsearch><query>alpha bravo</query><n>8</n></ATIREsearch>"
        proto.handle_line(q)  # loads the resident index
        lines, n_jobs = jobs_of(lambda: proto.handle_line(q))
        assert n_jobs == 0
        assert sum(ln.startswith("<hit>") for ln in lines) == 8
        monkeypatch.setattr(query_mod, "RESIDENT_MAX_POSTINGS", 0)
        distributed = AtireProtocol(proto.engine).handle_line(q)
        assert distributed[2:] == lines[2:]
        assert distributed[1].split("<time>")[0] == lines[1].split("<time>")[0]

    def test_bad_ranker_error(self, proto):
        lines = proto.handle_line(
            "<ATIREsearch><query>bravo</query>"
            "<ranking>nosuchranker</ranking></ATIREsearch>"
        )
        assert "<error>Bad ranking function</error>" in lines

    def test_bad_ranker_runs_no_job(self, proto, jobs_of):
        lines, n_jobs = jobs_of(
            lambda: proto.handle_line(
                "<ATIREsearch><query>bravo</query>"
                "<ranking>nosuchranker</ranking></ATIREsearch>"
            )
        )
        assert lines == [
            "<ATIREsearch>",
            "<error>Bad ranking function</error>",
            "</ATIREsearch>",
        ]
        assert n_jobs == 0
        # a valid ranker is checked without a search of its own: a
        # request costs the jobs of its one search
        ok = "<ATIREsearch><query>bravo</query><ranking>termcount</ranking></ATIREsearch>"
        first = proto.handle_line(ok)
        again, n_jobs = jobs_of(lambda: proto.handle_line(ok))
        assert again[2:] == first[2:] and "<hit>" in again[3]
        _, search_jobs = jobs_of(
            lambda: proto.engine.search_batch(
                [(1, "bravo")], k=10, ranker="termcount"
            ).collect()
        )
        assert n_jobs == search_jobs

    def test_names_above_resident_cap_cost_one_job(
        self, proto, jobs_of, monkeypatch
    ):
        """Above the resident cap a page's names are one docmap job;
        a docid without a docmap row is named by its number."""
        import atire_spark.query as query_mod

        monkeypatch.setattr(query_mod, "RESIDENT_MAX_POSTINGS", 0)
        r = proto.engine.index.docmap.filter("docid = 5").collect()[0]
        names, n_jobs = jobs_of(lambda: proto.engine.names([5, 99]))
        assert n_jobs == 1
        assert names == {5: f"{r['conv_id']}:{int(r['turn_idx'])}", 99: "99"}

    def test_getdoc_without_store(self, proto):
        lines = proto.handle_line("<ATIREgetdoc><docid>3</docid>")
        assert lines == ["<ATIREgetdoc>", "<length>0</length>", "</ATIREgetdoc>"]

    def test_no_index_error_and_quit(self):
        p = AtireProtocol(None)
        assert p.handle_line("anything")[0] == "<ATIREerror>"
        assert p.handle_line(".quit") == [] and p.closed

    def test_getdoc_with_store(self, spark):
        from atire_spark.docstore import build_docstore, fetch_documents

        eng = SearchEngine(
            spark, build_index(spark, spark.createDataFrame(CORPUS))
        )
        store = build_docstore(
            spark.createDataFrame(CORPUS), eng.index.docmap
        )
        p = AtireProtocol(eng, docstore=store)
        lines = p.handle_line(".get 0")
        assert lines[0] == "<ATIREgetdoc>"
        text = lines[2]
        assert "alpha" in text
        assert lines[1] == f"<length>{len(text)}</length>"


class TestBroker:
    def test_tcp_broker_matches_dataframe_federation(self, spark):
        from atire_spark.broker import BrokerClient
        from atire_spark.federate import search_federated

        left = CORPUS.iloc[:12].reset_index(drop=True)
        right = CORPUS.iloc[12:].reset_index(drop=True)
        e1 = SearchEngine(spark, build_index(spark, spark.createDataFrame(left)))
        e2 = SearchEngine(spark, build_index(spark, spark.createDataFrame(right)))
        s1, (h1, p1) = serve_tcp(AtireProtocol(e1))
        s2, (h2, p2) = serve_tcp(AtireProtocol(e2))
        try:
            client = BrokerClient([(h1, p1), (h2, p2)])
            answer = client.search("bravo", first=1, page_length=10)
            client.close()
        finally:
            s1.shutdown()
            s2.shutdown()
        import re

        got = [
            (int(m.group(1)), int(m.group(2)), float(m.group(3)))
            for m in re.finditer(
                r"<rank>(\d+)</rank><id>(\d+)</id><name>.*?</name>"
                r"<rsv>([-0-9.]+)</rsv>",
                answer,
            )
        ]
        want = [
            (int(r["rank"]), int(r["docid"]), round(float(r["rsv"]), 2))
            for r in search_federated([e1, e2], [(1, "bravo")], k=10)
            .collect()
        ]
        assert got == want
        m = re.search(r"<numhits>(\d+)</numhits>", answer)
        assert m is not None and int(m.group(1)) >= len(got)

    def test_failed_backend_drops_out(self, spark):
        """atire_broke.c:175-181: a backend answering <ATIREerror>
        (no <numhits>) is dropped from the merge, not fatal."""
        from atire_spark.broker import merge_results, parse_hits

        ok = parse_hits(
            "<hits><hit><rank>1</rank><id>3</id><name>a</name>"
            "<rsv>2.50</rsv></hit></hits>",
            docid_base=100,
        )
        assert ok == [{"rank": 1, "id": 103, "name": "a", "rsv": 2.5}]
        bad = parse_hits("<ATIREerror><description>x</description>", 0)
        assert bad == []
        merged = merge_results(
            [[{"rank": 1, "id": 5, "rsv": 2.0, "name": "x"}],
             [{"rank": 1, "id": 3, "rsv": 2.0, "name": "y"}]]
        )
        # rsv tie -> LOWEST global id first (the broker's tie-break,
        # opposite of the engine-internal accumulator sort)
        assert [h["id"] for h in merged] == [3, 5]
