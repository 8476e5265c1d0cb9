"""serve_broker: one client, closed loop, ``<ATIREsearch>`` requests
through ``BrokerClient`` to two ``serve_tcp`` backends, each serving
one conversation-range half of the corpus from a warm SearchEngine."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import check
import inputs
import layers
from common import data_files, parquet_rows, stage_parquet
from stats import median
from workload import Result, Stopwatch

# ~8.4k turns: the shard builds (the session's cold start among them),
# the warm-up and the oracle fit the per-run time budget with the timed
# loop on top.
N_CONVS = 1200
N_SHARDS = 2


def _shards(pdf):
    """Split by conversation range, the reference's split recipe:
    shard s holds conv ids [s*n/S, (s+1)*n/S)."""
    conv_no = pdf["conv_id"].str.slice(4).astype(int)
    return [
        pdf[(conv_no * N_SHARDS) // N_CONVS == s].reset_index(drop=True)
        for s in range(N_SHARDS)
    ]


def build_shard(ctx, spark, src: str, out: str, stage: str):
    from atire_spark.build import build_index, write_index

    tr = ctx.tracer
    with tr.span("build.build_index", jobs=True):
        idx = build_index(spark, spark.read.parquet(src), stage_dir=stage)
    with tr.span("build.write_index", jobs=True):
        write_index(idx, out)


def open_engine(ctx, spark, path: str):
    from atire_spark.build import load_index
    from atire_spark.query import SearchEngine

    with ctx.tracer.span("query.engine_open", jobs=True):
        return SearchEngine(spark, load_index(spark, path))


def run(ctx, spark, setup: Stopwatch) -> Result:
    from atire_spark.broker import BrokerClient
    from atire_spark.oracle import OracleIndex
    from atire_spark.server import serve_tcp
    from atire_spark.synth import make_transcripts_bench

    tr = ctx.tracer
    res = Result()
    pdf = make_transcripts_bench(N_CONVS, ctx.seed)
    shards = _shards(pdf)
    marker = inputs.marker_token(ctx.seed, 0)
    marker_name = inputs.plant_marker(shards[-1], marker, ctx.seed)
    pool = inputs.query_pool(ctx.seed)
    queries = inputs.pool_queries(pool)
    d = ctx.path("serve")

    def build(s: int) -> None:
        build_shard(ctx, spark, f"{d}/corpus{s}.parquet", f"{d}/index{s}", f"{d}/stage{s}")

    def build_and_open(s: int):
        build(s)
        built = time.monotonic()
        return open_engine(ctx, spark, f"{d}/index{s}"), built

    # the shards build concurrently, as independent shard builds would
    with setup:
        for s, part in enumerate(shards):
            stage_parquet(part, f"{d}/corpus{s}.parquet")
        # warm-up: the session's first Spark jobs run 2-3x slower than
        # later ones, so the first build of both shards is set-up
        with ThreadPoolExecutor(N_SHARDS) as ex:
            list(ex.map(build, range(N_SHARDS)))
    # timed: rebuild both shards into the same paths, open them and
    # find the planted marker
    res.extra["timed_build_from"] = time.time()
    t0 = time.monotonic()
    with ThreadPoolExecutor(N_SHARDS) as ex:
        opened = list(ex.map(build_and_open, range(N_SHARDS)))
    engines = [eng for eng, _ in opened]
    probe = engines[-1].search_batch([(1, marker)], k=1).collect()
    fresh_s = time.monotonic() - t0
    turns = len(pdf)
    res.e2e["index_turns_per_s"] = turns / (max(b for _, b in opened) - t0)
    res.e2e["freshness_s"] = fresh_s
    res.e2e["index_bytes_per_turn"] = (
        sum(sum(os.path.getsize(f) for f in data_files(f"{d}/index{s}")) for s in range(N_SHARDS))
        / turns
    )

    servers = []
    with setup:
        for eng in engines:
            fe = layers.Frontend(None, tr)
            fe.protocol = layers.protocol_for(eng, tr, fe)
            srv, addr = serve_tcp(fe)
            servers.append((srv, addr))
        client = BrokerClient([addr for _, addr in servers])
        layers.time_backends(client, tr)
        # warm-up, untimed: one pass over the pool on every engine (one
        # batch each, engines side by side), then the request path once
        with ThreadPoolExecutor(N_SHARDS) as ex:
            list(ex.map(lambda e: e.search_batch(list(enumerate(queries, 1)), k=1 + check.PAGE).collect(), engines))
        client.search(queries[-1])

    try:
        oracles = [OracleIndex.build(part) for part in shards]
        expected = {q: check.expected_page(oracles, q) for q in queries}
        mk = oracles[-1].docmap
        mk_row = mk[mk["docid"] == (int(probe[0]["docid"]) if probe else -1)]
        res.attempted += 1
        if mk_row.empty or f"{mk_row.iloc[0]['conv_id']}:{int(mk_row.iloc[0]['turn_idx'])}" != marker_name:
            res.fail("marker probe on the fresh shard missed its document")

        stream = inputs.RequestStream(pool)
        lat: list[float] = []
        # whole rounds only, so every run measures the same mix
        t_end = time.monotonic() + ctx.seconds
        rid = 0
        while time.monotonic() < t_end or stream.mid_round:
            q = stream.next()
            rid += 1
            tr.rid = rid
            res.attempted += 1
            with tr.span("broker.search"):
                t0 = time.perf_counter()
                reply = client.search(q)
                lat.append((time.perf_counter() - t0) * 1000.0)
            if check.reply_page(reply) != expected[q]:
                res.fail(f"broker page for {q!r} differs from the oracle")
        tr.rid = None
        res.samples["query_ms"] = lat
        res.e2e["query_p50_ms"] = median(lat)

        res.extra["index_dirs"] = [f"{d}/index{s}" for s in range(N_SHARDS)]
        if ctx.trace:
            res.extra["wand"] = wand_stats(ctx, spark, f"{d}/corpus0.parquet", queries)
    finally:
        client.close()
        for srv, _ in servers:
            layers.stop_server(srv)
    return res


def wand_stats(ctx, spark, src: str, queries: list[str]) -> dict:
    """Segments scored over segments considered by block-max WAND, one
    call per distinct multi-term pool query, on a quantized build of
    the first shard (WAND prunes only quantized indexes). One call per
    query: each leaves a cached frame behind."""
    from atire_spark.build import build_index, load_index, write_index
    from atire_spark.query import SearchEngine

    d = ctx.path("wand")
    idx = build_index(spark, spark.read.parquet(src), quantize_bits=8, stage_dir=f"{d}/stage")
    write_index(idx, f"{d}/index")
    eng = SearchEngine(spark, load_index(spark, f"{d}/index"))
    scored = total = 0
    for q in queries:
        if len(q.split()) < 2:
            continue
        _, st = eng.search_wand([(1, q)], k=check.PAGE, return_stats=True)
        scored += st["segments_scored"]
        total += st["segments_total"]
    return {"scored": scored, "total": total}


def layer_metrics(ctx, res: Result, attribution: dict) -> dict:
    from workload import request_layers

    tr = ctx.tracer
    m = request_layers(tr, attribution)
    m.update(build_layers(tr, attribution, res.extra["index_dirs"], res.extra["timed_build_from"]))
    m["query.engine_open_s"] = sum(s.seconds for s in tr.named("query.engine_open"))
    w = res.extra["wand"]
    m["query.wand_segments_scored_frac"] = w["scored"] / w["total"] if w["total"] else 0.0
    return m


def build_layers(tr, attribution: dict, index_dirs: list[str], since: float) -> dict:
    """Build metrics of the timed (warm) rebuild: the spans that
    started at or after ``since``."""
    from spans import descendants, work_of

    def timed(name):
        return [s for s in tr.named(name) if s.start >= since]

    spans = timed("build.build_index") + timed("build.write_index")
    w = work_of(attribution, spans, descendants(tr.spans))
    return {
        "build.build_index_s": sum(s.seconds for s in timed("build.build_index")),
        "build.write_index_s": sum(s.seconds for s in timed("build.write_index")),
        "build.jobs": w["jobs"],
        "build.tasks": w["tasks"],
        "build.shuffle_write_mb": w["shuffle_write_bytes"] / 2**20,
        "build.spill_mb": w["spill_bytes"] / 2**20,
        "build.task_cpu_s": w["cpu_ns"] / 1e9,
        "build.gc_s": w["gc_ms"] / 1e3,
        "build.failed_tasks": w["failed_tasks"],
        "build.index_files": sum(len(data_files(p)) for p in index_dirs),
        "build.postings_rows": sum(parquet_rows(f"{p}/postings") for p in index_dirs),
    }
