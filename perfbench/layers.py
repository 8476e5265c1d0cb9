"""Thin stand-ins that put spans around the calls one layer makes into
the next: the server's protocol object, the engine it queries, and the
broker's backend connections. They change no behaviour."""

from __future__ import annotations


class Frontend:
    """What ``serve_tcp`` serves: forwards each line to the current
    ``AtireProtocol`` (replaceable, so a reopened index can be swapped
    in) inside a ``server.request`` span that owns the handler thread's
    Spark job group."""

    def __init__(self, protocol, tracer):
        self.protocol = protocol
        self.tracer = tracer
        self.request_span = None

    @property
    def closed(self) -> bool:
        return self.protocol.closed

    def handle_line(self, line: str) -> list[str]:
        with self.tracer.span("server.request", jobs=True) as s:
            self.request_span = s
            return self.protocol.handle_line(line)


class _Index:
    """The engine's IndexTables, except that reaching for ``docmap``
    (which the protocol does only to look up result names) hands the
    job group back to the enclosing server request."""

    def __init__(self, index, tracer, frontend: Frontend):
        self._index = index
        self._tracer = tracer
        self._frontend = frontend

    @property
    def docmap(self):
        if self._frontend.request_span is not None:
            self._tracer.set_group(self._frontend.request_span.id)
        return self._index.docmap

    def __getattr__(self, name):
        return getattr(self._index, name)


class TracedEngine:
    """A SearchEngine whose ``search_batch`` is a ``query.plan`` span.
    The span times the call (planning plus any eager job it runs); its
    job group stays set afterwards, so the jobs of the protocol's
    ``collect`` of the returned frame count as the query's too."""

    def __init__(self, engine, tracer, frontend: Frontend):
        self._engine = engine
        self._tracer = tracer
        self.index = _Index(engine.index, tracer, frontend)

    def search_batch(self, *args, **kwargs):
        span = self._tracer.open("query.plan", jobs=True)
        try:
            return self._engine.search_batch(*args, **kwargs)
        finally:
            self._tracer.close(span)
            self._tracer.set_group(span.id)

    def __getattr__(self, name):
        return getattr(self._engine, name)


def protocol_for(engine, tracer, frontend: Frontend):
    from atire_spark.server import AtireProtocol

    return AtireProtocol(TracedEngine(engine, tracer, frontend))


def time_backends(client, tracer) -> None:
    """Put a ``broker.backend`` span around every request the broker
    sends to one of its backends."""
    for b in client.backends:

        def request(line, end_tag, _send=b.request):
            with tracer.span("broker.backend"):
                return _send(line, end_tag)

        b.request = request


def stop_server(srv) -> None:
    srv.shutdown()
    srv.server_close()
