import os

from perfbench.eventlog import CallSites, Log, union_ms

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
FIXTURE = os.path.join(HERE, "data", "eventlog_small.jsonl")


def _log() -> Log:
    with open(FIXTURE) as f:
        return Log(f)


def _span(log: Log, group: str) -> tuple[str, float, float]:
    jobs = [j for j in log.jobs.values() if j.group == group]
    return group, min(j.submit_ms for j in jobs), max(j.end_ms for j in jobs)


def test_jobs_attributed_to_their_group():
    log = _log()
    groups = [j.group for j in sorted(log.jobs.values(), key=lambda j: j.id)]
    # the helper thread's jobs carry no group; nothing is dropped
    assert groups.count("query") == 2 and groups.count("failing") == 1
    assert log.unattributed_jobs == groups.count(None) >= 1
    spans = [_span(log, "query"), _span(log, "failing")]
    tot = log.attribute(spans)
    assert tot["query"].jobs == 2 and tot["query"].unattributed_jobs == 0
    assert tot["query"].tasks > 0 and tot["query"].task_busy_s > 0
    assert tot["query"].job_wall_s > 0
    assert tot["failing"].jobs == 1 and tot["failing"].failed_tasks >= 1
    assert tot["query"].failed_tasks == 0


def test_groupless_job_is_charged_to_the_span_around_it():
    log = _log()
    helper = [j for j in log.jobs.values() if j.group is None]
    t0 = min(j.submit_ms for j in helper) - 1
    t1 = max(j.end_ms for j in helper) + 1
    tot = log.attribute([("helper", t0, t1)])
    assert tot["helper"].jobs == len(helper)
    assert tot["helper"].unattributed_jobs == len(helper)
    # outside every span it stays counted in Log.unattributed_jobs only
    assert log.attribute([("elsewhere", 0, 1)])["elsewhere"].jobs == 0


def test_call_sites_resolve_to_functions():
    log = _log()
    sites = CallSites(ROOT)
    by_fn = log.by_function(sites)
    assert "perfbench.tests.data.sample_app.query" in by_fn
    assert "perfbench.tests.data.sample_app.failing" in by_fn
    # the parquet write has no Python call site: counted, not resolved
    assert log.unresolved_callsite_jobs(sites) >= 1
    assert any(k.startswith("<unresolved") for k in by_fn)
    assert sum(n for n, _ in by_fn.values()) == len(log.jobs)
    assert sites.function("parquet at NativeMethodAccessorImpl.java:0") is None


def test_union_of_overlapping_intervals():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(0, 10), (2, 3)]) == 10
