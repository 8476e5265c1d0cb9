"""The reference's interactive server wire protocol (atire -p port).

``atire`` runs one line-oriented loop over stdin or a TCP channel
(atire/atire.c:333-756): each input line is a command or a bare query,
each response is a block of XML-ish lines. The broker (atire_broke.c)
and the CGI/Java frontends speak exactly this dialect, so implementing
it makes the engine a drop-in backend for them:

- ``<ATIREsearch><query>Q</query>[<top>i][<n>k][<ranking>R</ranking>]
  </ATIREsearch>`` or a bare query line → ranked results
  (atire.c:578-618, 651-755):
  ``<ATIREsearch>`` /
  ``<query>Q</query><numhits>N</numhits><time>ms</time>``
  (atire.c:148) / ``<hits>`` / one
  ``<hit><rank>r</rank><id>d</id><name>n</name><rsv>x.xx</rsv></hit>``
  per result / ``</hits>`` / ``</ATIREsearch>``;
- ``<ATIREdescribeindex>`` / ``.describeindex`` → index metadata
  (atire.c:435-487);
- ``<ATIREgetdoc><docid>N</docid>`` / ``.get N`` → the stored document
  (atire.c:619-641, needs a document store);
- ``.morelike N`` → top-10 KL terms of document N become the query
  (atire.c:488-505);
- ``.quit`` → close (atire.c:415-419);
- anything needing an index when none is loaded →
  ``<ATIREerror><description>No index loaded</description>
  </ATIREerror>`` (atire.c:426-431).

Spark-first split: the PROTOCOL is a plain line-in/lines-out object
(:class:`AtireProtocol`, fully testable without sockets); the TCP
surface is a thin threaded wrapper (:func:`serve_tcp`). A long-running
server holds one warm SparkSession + SearchEngine — the deployment
shape is one protocol frontend per cluster, queries fanned to
executors by the engine itself, exactly how the reference pairs one
``atire`` process with its in-RAM index. A request takes its ranked
rows and its hits' names straight from the engine: on an index
resident on the driver (the reference's ``-M``) it runs no Spark job;
on a larger one it runs the distributed search plus one docmap job
for the page's names.
"""

from __future__ import annotations

import re
import time

__all__ = ["AtireProtocol", "serve_tcp"]


def _between(text: str, open_tag: str, close_tag: str) -> str | None:
    """atire.c's between(): substring between two literal tags."""
    i = text.find(open_tag)
    if i < 0:
        return None
    j = text.find(close_tag, i + len(open_tag))
    if j < 0:
        return None
    return text[i + len(open_tag) : j]


class AtireProtocol:
    """One reference-server session over a SearchEngine.

    ``docstore`` (optional, the document-repository DataFrame of
    :mod:`atire_spark.docstore`) backs ``.get`` / ``<ATIREgetdoc>`` /
    ``.morelike``; without it those return length 0 like a reference
    build without ``-Cn``.
    ``index_filename`` / ``doclist_filename`` only echo through
    describeindex, like the reference's param block.
    """

    def __init__(
        self,
        engine,
        docstore=None,
        index_filename: str = "",
        doclist_filename: str = "",
        results_list_length: int = 10,
    ):
        self.engine = engine
        self.docstore = docstore
        self.index_filename = index_filename
        self.doclist_filename = doclist_filename
        self.results_list_length = results_list_length
        self.closed = False

    def _fetch_text(self, docid: int) -> str | None:
        if self.docstore is None:
            return None
        from atire_spark.docstore import fetch_documents

        rows = fetch_documents(self.docstore, [docid]).collect()
        return rows[0]["text"] if rows else None

    # ------------------------------------------------------------ search
    def _search_block(
        self,
        query: str,
        first_to_list: int,
        last_to_list: int,
        ranker: str | None,
    ) -> list[str]:
        out = ["<ATIREsearch>"]
        if ranker is not None:
            try:
                self.engine.check_ranker(ranker)
            except ValueError:
                out.append("<error>Bad ranking function</error>")
                out.append("</ATIREsearch>")
                return out
        t0 = time.monotonic()
        k = max(last_to_list, 1)
        ranked = self.engine.search_ranked(
            [(1, query)], k=k, ranker=ranker or "bm25"
        )
        ms = int(round((time.monotonic() - t0) * 1000.0))
        numhits = len(ranked)
        out.append(
            f"<query>{query}</query><numhits>{numhits}</numhits>"
            f"<time>{ms}</time>"
        )
        lo = min(max(first_to_list, 0), numhits)
        hi = min(max(last_to_list, lo), numhits)
        page = ranked.iloc[lo:hi]
        if len(page):
            ids = [int(d) for d in page["docid"]]
            names = self.engine.names(ids)
            out.append("<hits>")
            for d, rank, rsv in zip(ids, page["rank"], page["rsv"]):
                out.append(
                    f"<hit><rank>{int(rank)}</rank><id>{d}</id>"
                    f"<name>{names[d]}</name>"
                    f"<rsv>{float(rsv):0.2f}</rsv></hit>"
                )
            out.append("</hits>")
        out.append("</ATIREsearch>")
        return out

    def _describe_block(self) -> list[str]:
        eng = self.engine
        srow = eng.stats_row
        return [
            "<ATIREdescribeindex>",
            f'<doclist filename="{self.doclist_filename}"/>',
            f'<index filename="{self.index_filename}"/>',
            f"<docnum>{eng.n_docs}</docnum>",
            f"<termnum>{eng.collection_len}</termnum>",
            f"<uniquetermnum>{eng.unique_terms}</uniquetermnum>",
            f"<quantized>{1 if eng.quantized else 0}</quantized>",
            f"<quantmax>{float(srow.get('quant_max') or 0.0)}</quantmax>",
            f"<quantmin>{float(srow.get('quant_min') or 0.0)}</quantmin>",
            "<longestdoc>0</longestdoc>",
            "</ATIREdescribeindex>",
        ]

    def _getdoc_block(self, docid: int) -> list[str]:
        text = self._fetch_text(docid)
        if text is None:
            return ["<ATIREgetdoc>", "<length>0</length>", "</ATIREgetdoc>"]
        return [
            "<ATIREgetdoc>",
            f"<length>{len(text)}</length>",
            text,
            "</ATIREgetdoc>",
        ]

    # ------------------------------------------------------------- loop
    def handle_line(self, command: str) -> list[str]:
        """One input line → the response lines (possibly empty)."""
        command = command.strip()
        if command == ".quit":
            self.closed = True
            return []
        if not command:
            return []  # ignore blank lines (atire.c:417-421)
        if self.engine is None:
            return [
                "<ATIREerror>",
                "<description>No index loaded</description>",
                "</ATIREerror>",
            ]
        if command == ".describeindex":
            return [
                self.doclist_filename,
                self.index_filename,
                str(self.engine.n_docs),
                "",
            ]
        if command.startswith("<ATIREdescribeindex>"):
            return self._describe_block()
        if command.startswith("<ATIREgetdoc>"):
            m = re.search(r"<docid>(\d+)", command)
            return self._getdoc_block(int(m.group(1)) if m else -1)
        if command.startswith(".get "):
            return self._getdoc_block(int(command[5:].split()[0]))
        if command.startswith(".morelike "):
            docid = int(command[10:].split()[0])
            text = self._fetch_text(docid)
            if not text:
                return []
            terms = self.engine._kl_select([text], 10)
            query = " ".join(t for t, _ in terms)
            return self._search_block(
                query, 0, self.results_list_length, None
            )
        if command.startswith("<ATIREsearch>"):
            query = _between(command, "<query>", "</query>")
            if query is None:
                return []
            m = re.search(r"<top>(\d+)", command)
            first = (int(m.group(1)) - 1) if m else 0
            m = re.search(r"<n>(\d+)", command)
            last = first + (
                int(m.group(1)) if m else self.results_list_length
            )
            ranker = _between(command, "<ranking>", "</ranking>")
            return self._search_block(query, first, last, ranker)
        # bare line → query (atire.c:645-649)
        return self._search_block(
            command, 0, self.results_list_length, None
        )


def serve_tcp(
    protocol: AtireProtocol, host: str = "127.0.0.1", port: int = 0
):
    """Threaded line-oriented TCP wrapper; returns the bound
    (server, (host, port)) — call ``server.shutdown()`` to stop. Each
    connection shares the warm protocol object (the reference serves
    one client at a time off its single channel; the lock preserves
    that response ordering per command)."""
    import socketserver
    import threading

    lock = threading.Lock()

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            while not protocol.closed:
                raw = self.rfile.readline()
                if not raw:
                    break
                with lock:
                    lines = protocol.handle_line(
                        raw.decode("utf-8", errors="replace")
                    )
                if lines:
                    self.wfile.write(
                        ("\n".join(lines) + "\n").encode("utf-8")
                    )
                    self.wfile.flush()
                if protocol.closed:
                    break

    class Server(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

    srv = Server((host, port), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address
