"""Event-log fold and span arithmetic, on hand-written inputs."""

import json

from perfbench.spans import Span, Tracer, clipped, fold_event_log, span_counters, union_length


def _job_start(job, t_ms, stages, span=None):
    props = {"perfbench.span": str(span)} if span is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def _job_end(job, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t_ms}


def _task_end(stage, run_ms=100, cpu_ns=50_000_000, gc_ms=0, read=(0, 0),
              written=0, spilled=0, py_out=None, py_in=None):
    accs = []
    if py_out is not None:
        accs.append({"Name": "data sent to Python workers", "Update": str(py_out)})
    if py_in is not None:
        accs.append({"Name": "data returned from Python workers", "Update": str(py_in)})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spilled,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0],
                                     "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _log(events):
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3
    assert union_length([(3, 4), (0, 10)]) == 10
    assert clipped([(0, 5), (6, 8), (9, 12)], 2, 10) == [(2, 5), (6, 8), (9, 10)]


def test_fold_attributes_tasks_to_jobs_through_stages():
    jobs = fold_event_log(_log([
        {"Event": "SparkListenerLogStart"},
        _job_start(0, 1000, [0, 1], span=3),
        _task_end(0, run_ms=200, cpu_ns=10**8, written=500, py_out=70, py_in=30),
        _task_end(1, run_ms=300, gc_ms=20, read=(100, 400), spilled=64),
        _job_end(0, 2500),
        _job_start(1, 3000, [2]),
        _task_end(2),
        _task_end(99),  # stage of no known job: ignored
        _job_end(1, 3100),
    ]))
    j0, j1 = jobs[0], jobs[1]
    assert (j0.span, j0.start, j0.end, j0.tasks) == (3, 1.0, 2.5, 2)
    assert j0.counters["executor_run_s"] == 0.5
    assert abs(j0.counters["executor_cpu_s"] - 0.15) < 1e-12
    assert j0.counters["gc_s"] == 0.02
    assert j0.counters["shuffle_read_bytes"] == 500
    assert j0.counters["shuffle_write_bytes"] == 500
    assert j0.counters["spill_bytes"] == 64
    assert (j0.counters["python_bytes_out"], j0.counters["python_bytes_in"]) == (70, 30)
    assert j1.span is None and j1.tasks == 1


def test_span_counters_self_time_gap_and_subtree_sums():
    # parent [0, 10] with children [1, 4] and [3, 6] (overlapping pool
    # threads) and a grandchild [7, 9] under a second child [7, 9.5]
    spans = [
        Span(0, "parent", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),
        Span(3, "c", 0, 7.0, 9.5),
        Span(4, "c.child", 3, 7.0, 9.0),
    ]
    jobs = fold_event_log(_log([
        _job_start(0, 1500, [0], span=1), _task_end(0, run_ms=1000),
        _job_end(0, 3500),
        _job_start(1, 3000, [1], span=2), _task_end(1, run_ms=1000),
        _job_end(1, 5000),
        _job_start(2, 7500, [2], span=4), _task_end(2, run_ms=500),
        _job_end(2, 8000),
        _job_start(3, 9000, [3], span=0), _task_end(3, run_ms=250),
        _job_end(3, 12000),  # runs past the span end: clipped
    ]))
    c = span_counters(spans, jobs)
    # children cover [1, 6] and [7, 9.5]: 7.5 s of the parent's 10 s
    assert c[0]["wall_s"] == 10.0
    assert c[0]["self_s"] == 2.5
    # jobs cover [1.5, 5] and [7.5, 8] and [9, 10]: 5 s
    assert c[0]["driver_gap_s"] == 5.0
    assert (c[0]["jobs"], c[0]["tasks"]) == (4, 4)
    assert c[0]["executor_run_s"] == 2.75
    assert c[3]["jobs"] == 1 and c[3]["self_s"] == 0.5
    assert c[3]["driver_gap_s"] == 2.0
    assert c[1]["self_s"] == 3.0 and c[1]["driver_gap_s"] == 1.0


class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_tracer_tags_jobs_and_restores_outer_tag():
    sc = _FakeSc()
    tr = Tracer(sc)
    with tr.span("outer") as outer:
        assert sc.props["perfbench.span"] == str(outer.id)
        with tr.span("inner") as inner:
            assert sc.props["perfbench.span"] == str(inner.id)
        assert sc.props["perfbench.span"] == str(outer.id)
    assert sc.props["perfbench.span"] is None
    assert inner.parent == outer.id and outer.parent is None
    assert outer.end >= inner.end >= inner.start >= outer.start


def test_pool_thread_spans_attach_to_the_submitting_span():
    from concurrent.futures import ThreadPoolExecutor

    tr = Tracer()

    def work(name):
        with tr.span(name) as sp:
            return sp

    with tr.span("build") as build:
        with ThreadPoolExecutor(max_workers=3) as pool:
            pooled = [f.result() for f in [pool.submit(work, n) for n in "xyz"]]
    assert {sp.parent for sp in pooled} == {build.id}
