"""Attribution of Spark jobs, stages and tasks to benchmark spans."""

import os

from spans import (
    Tracer,
    attribute,
    covered_seconds,
    descendants,
    jobs_and_stages,
    read_event_log,
    work_of,
)


class FakeContext:
    def __init__(self):
        self.group = None
        self.calls = []

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value
        self.calls.append(value)


def test_job_group_follows_span_nesting():
    tr = Tracer(enabled=True)
    tr.sc = FakeContext()
    with tr.span("outer", jobs=True) as outer:
        assert tr.sc.group == outer.id
        with tr.span("plain"):
            assert tr.sc.group == outer.id
            with tr.span("inner", jobs=True) as inner:
                assert tr.sc.group == inner.id
            assert tr.sc.group == outer.id
    assert tr.sc.group is None
    names = {s.name: s for s in tr.spans}
    assert names["inner"].parent == names["plain"].id
    assert names["plain"].parent == names["outer"].id
    assert descendants(tr.spans)[outer.id] == [names["plain"].id, inner.id]


def test_disabled_tracer_times_but_keeps_nothing():
    tr = Tracer(enabled=False)
    tr.sc = FakeContext()
    with tr.span("x", jobs=True) as s:
        pass
    assert s.seconds >= 0
    assert tr.spans == [] and tr.sc.calls == []


def _events():
    def job(jid, group, stages, t0, t1):
        props = {"spark.jobGroup.id": group} if group else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
        ]

    def stage(sid, tasks, acc):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Attempt ID": 0, "Number of Tasks": tasks,
            "Accumulables": [{"Name": k, "Value": v} for k, v in acc.items()]}}

    return [
        *job(0, "s1", [0, 1], 1000, 2000),
        stage(0, 4, {"internal.metrics.executorCpuTime": 2_000_000_000,
                     "internal.metrics.shuffle.write.bytesWritten": 100}),
        stage(1, 2, {"internal.metrics.jvmGCTime": 30,
                     "internal.metrics.shuffle.read.localBytesRead": 60,
                     "internal.metrics.shuffle.read.remoteBytesRead": 40}),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"}},
        # stage 1 is reused (skipped) by job 1: counted once, for job 0
        *job(1, "s2", [1, 2], 2500, 2600),
        stage(2, 1, {"internal.metrics.diskBytesSpilled": 7,
                     "internal.metrics.memoryBytesSpilled": 3}),
        *job(2, None, [3], 3000, 3100),
        stage(3, 8, {}),
    ]


def test_attribute_sums_stages_per_group():
    jobs, stages = jobs_and_stages(_events())
    att = attribute(jobs, stages)
    assert set(att) == {"s1", "s2"}  # the job without a group is nobody's
    a = att["s1"]
    assert (a["jobs"], a["tasks"], a["failed_tasks"]) == (1, 6, 1)
    assert a["cpu_ns"] == 2_000_000_000 and a["gc_ms"] == 30
    assert a["shuffle_write_bytes"] == 100 and a["shuffle_read_bytes"] == 100
    assert a["intervals"] == [(1.0, 2.0)]
    b = att["s2"]
    assert (b["jobs"], b["tasks"], b["spill_bytes"]) == (1, 1, 10)


def test_covered_seconds_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert covered_seconds(iv, float("-inf"), float("inf")) == 4.0
    assert covered_seconds(iv, 1.5, 5.5) == 2.0
    assert covered_seconds([], 0, 1) == 0.0


def test_work_of_includes_descendants():
    tr = Tracer(enabled=True)
    with tr.span("a", jobs=True) as a:
        with tr.span("b", jobs=True) as b:
            pass
    att = {a.id: {"jobs": 1, "intervals": [(0, 1)], "tasks": 2, "failed_tasks": 0,
                  "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
                  "shuffle_read_bytes": 0, "spill_bytes": 0},
           b.id: {"jobs": 2, "intervals": [(1, 2)], "tasks": 3, "failed_tasks": 0,
                  "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 5,
                  "shuffle_read_bytes": 0, "spill_bytes": 0}}
    w = work_of(att, [a], descendants(tr.spans))
    assert (w["jobs"], w["tasks"], w["shuffle_write_bytes"]) == (3, 5, 5)


def test_event_log_attribution_on_a_tiny_corpus(tmp_path):
    """A real local session with the event log on: jobs run inside a
    span land on that span, jobs outside any span on none."""
    from common import prepare_env, start_session, stop_session

    work = str(tmp_path)
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    prepare_env(root, work)
    from atire_spark.build import build_index
    from atire_spark.synth import make_transcripts

    spark = start_session(work, trace=True)
    tr = Tracer(enabled=True)
    tr.sc = spark.sparkContext
    try:
        tdf = spark.createDataFrame(make_transcripts("tiny"))
        with tr.span("build", jobs=True) as sb:
            idx = build_index(spark, tdf, stage_dir=f"{work}/stage")
            idx.postings.count()
        with tr.span("count", jobs=True) as sc:
            n = idx.docmap.count()
        spark.range(10).count()  # outside every span
    finally:
        stop_session(spark)
    assert n > 0
    jobs, stages = jobs_and_stages(read_event_log(f"{work}/events"))
    att = attribute(jobs, stages)
    assert att[sb.id]["jobs"] >= 2 and att[sb.id]["tasks"] >= att[sb.id]["jobs"]
    assert att[sb.id]["cpu_ns"] > 0
    assert att[sc.id]["jobs"] >= 1
    assert any(j["group"] is None for j in jobs.values())
    for start, end in att[sc.id]["intervals"]:
        assert sc.start - 1 <= start <= end <= sc.end + 1
