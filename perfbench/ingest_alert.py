"""ingest_alert: a closed loop over seeded micro-batches of fresh turns
into a stream index that starts empty. Each cycle scores the batch
against a standing-query set (collection statistics frozen from the
index as it was before the batch), appends it, reopens the index
behind the serving frontend, then asks for the batch's marker token
and a few pool queries through the broker."""

from __future__ import annotations

import os
import time

import pandas as pd

import check
import inputs
import layers
from common import data_files, stage_parquet
from spans import descendants, work_of
from stats import median
from workload import Result, Stopwatch

# ~2.1k turns per micro-batch
BATCH_CONVS = 300


def run(ctx, spark, setup: Stopwatch) -> Result:
    from atire_spark.broker import BrokerClient
    from atire_spark.oracle import OracleIndex
    from atire_spark.query import SearchEngine
    from atire_spark.server import serve_tcp
    from atire_spark.stream_query import frozen_stats_from_index, standing_query_matches
    from atire_spark.streaming import append_batch, load_stream_index

    tr = ctx.tracer
    res = Result()
    pool = inputs.query_pool(ctx.seed)
    queries = inputs.pool_queries(pool)
    standing = inputs.standing_set(ctx.seed)
    stream = inputs.RequestStream(pool)
    d = ctx.path("ingest")
    sdir = f"{d}/stream"
    batches: list[pd.DataFrame] = []

    def arrive(epoch: int):
        pdf, token, name = inputs.ingest_batch(BATCH_CONVS, ctx.seed, epoch)
        batches.append(pdf)
        src = f"{d}/batch{epoch}.parquet"
        stage_parquet(pdf, src)
        return spark.read.parquet(src), token, name

    def append_and_open(bdf, epoch: int):
        with tr.span("streaming.append", jobs=True) as sp:
            append_batch(spark, bdf, sdir, epoch)
        with tr.span("streaming.open", jobs=True):
            idx = load_stream_index(spark, sdir)
            eng = SearchEngine(spark, idx)
        frontend.protocol = layers.protocol_for(eng, tr, frontend)
        return idx, eng, sp.seconds

    def search(q: str) -> tuple[str, float]:
        with tr.span("broker.search"):
            t0 = time.perf_counter()
            reply = client.search(q)
            return reply, (time.perf_counter() - t0) * 1000.0

    frontend = layers.Frontend(None, tr)
    client = None
    with setup:
        # batch 0 starts the stream and is the untimed warm-up: the
        # first append, open and query run 2-3x slower than later ones
        bdf, token, _ = arrive(0)
        idx, eng, _ = append_and_open(bdf, 0)
        srv, addr = serve_tcp(frontend)
    try:
        with setup:
            client = BrokerClient([addr])
            layers.time_backends(client, tr)
            search(token)
            st = frozen_stats_from_index(spark, idx, standing)
            standing_query_matches(bdf, standing, st).collect()

        cycles = []
        elapsed, epoch = 0.0, 0
        while elapsed < ctx.seconds:
            epoch += 1
            bdf, token, marker_name = arrive(epoch)
            tr.rid = epoch
            c0 = time.monotonic()
            with tr.span("stream_query.frozen_stats", jobs=True):
                st = frozen_stats_from_index(spark, idx, standing)
            with tr.span("stream_query.score", jobs=True):
                matches = standing_query_matches(bdf, standing, st).collect()
            t_append = time.monotonic()
            alert_s = t_append - c0
            idx, eng, append_s = append_and_open(bdf, epoch)
            probe, probe_ms = search(token)
            fresh_s = time.monotonic() - t_append
            # one request round: every query category, every cycle
            asked = [stream.next() for _ in inputs.CATEGORIES]
            answers = [(q, *search(q)) for q in asked]
            elapsed += time.monotonic() - c0
            cycles.append(
                {
                    "epoch": epoch,
                    "turns": len(batches[-1]),
                    "alert_s": alert_s,
                    "fresh_s": fresh_s,
                    "append_s": append_s,
                    "matches": matches,
                    "probe": probe,
                    "probe_ms": probe_ms,
                    "marker_name": marker_name,
                    "answers": answers,
                }
            )
        tr.rid = None
        final_rows = eng.search_batch(list(enumerate(queries, 1)), k=check.PAGE).collect()
    finally:
        if client is not None:
            client.close()
        layers.stop_server(srv)

    # ---- correctness: oracles[e] is the oracle over batches 0..e
    oracles = [
        OracleIndex.build(pd.concat(batches[: e + 1], ignore_index=True))
        for e in range(epoch + 1)
    ]
    final = oracles[epoch]
    for c in cycles:
        e = c["epoch"]
        oracle = oracles[e]
        res.attempted += 1  # the alert, against the index before the batch
        want = check.expected_alerts(oracles[e - 1], batches[e], standing)
        if check.alert_rows(c["matches"]) != want:
            res.fail(f"epoch {e}: alerts differ from the oracle's ({len(want)} expected)")
        res.attempted += 1  # the append, made visible by the marker probe
        if c["marker_name"] not in {name for _, name, _ in check.reply_page(c["probe"])}:
            res.fail(f"epoch {e}: marker probe did not find its document")
        for q, reply, _ in c["answers"]:
            res.attempted += 1
            if check.reply_page(reply) != check.expected_page([oracle], q):
                res.fail(f"epoch {e}: page for {q!r} differs from the oracle")
    res.attempted += 1
    bad = check.ranks_identical(final_rows, final, queries, check.PAGE)
    if bad:
        res.fail(f"final stream index ranks differ from the oracle on {bad}")

    turns_total = sum(len(b) for b in batches)
    res.samples["query_ms"] = [
        ms for c in cycles for ms in [c["probe_ms"]] + [a[2] for a in c["answers"]]
    ]
    res.samples["freshness_s"] = [c["fresh_s"] for c in cycles]
    res.samples["alert_s"] = [c["alert_s"] for c in cycles]
    res.e2e["query_p50_ms"] = median(res.samples["query_ms"])
    res.e2e["freshness_s"] = median(res.samples["freshness_s"])
    res.e2e["index_turns_per_s"] = median([c["turns"] / c["append_s"] for c in cycles])
    res.e2e["index_bytes_per_turn"] = (
        sum(os.path.getsize(f) for f in data_files(sdir)) / turns_total
    )
    res.extra.update(sdir=sdir, cycles=cycles)
    return res


def layer_metrics(ctx, res: Result, attribution: dict) -> dict:
    from workload import request_layers

    tr = ctx.tracer
    timed = [s for s in tr.spans if s.rid is not None]

    def named(name):
        return [s for s in timed if s.name == name]

    def med_s(name):
        xs = [s.seconds for s in named(name)]
        return median(xs) if xs else 0.0

    below = descendants(tr.spans)
    appends = [work_of(attribution, [s], below) for s in named("streaming.append")]
    cycles = res.extra["cycles"]
    m = request_layers(tr, attribution)
    m.update(
        {
            "streaming.append_s": med_s("streaming.append"),
            "streaming.append_jobs": sum(w["jobs"] for w in appends) / max(len(appends), 1),
            "streaming.append_shuffle_write_mb": sum(w["shuffle_write_bytes"] for w in appends)
            / max(len(appends), 1)
            / 2**20,
            "streaming.open_s": med_s("streaming.open"),
            "streaming.segment_files": len(data_files(f"{res.extra['sdir']}/segments")),
            "stream_query.frozen_stats_s": med_s("stream_query.frozen_stats"),
            "stream_query.score_s": med_s("stream_query.score"),
            "stream_query.matches_per_turn": sum(len(c["matches"]) for c in cycles)
            / max(sum(c["turns"] for c in cycles), 1),
        }
    )
    return m
