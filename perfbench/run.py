"""Engine benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload live --seed 1 --seconds 6 --trace 0

Run from the repository root.  The last line of standard output is the
result record ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics read back from Spark's event log.  The lines before it are a
readable report.  Everything the run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # not perfbench/: its tests/ would shadow the repo's tests/

from perfbench.workload import FAILED, SPECS, Run  # noqa: E402


def _driver_mem() -> str:
    """An eighth of host RAM, between 1 and 2 GB: enough for the
    benchmark's indexes, while the engine's own default (32g) exceeds
    small hosts, and a small heap keeps the peak-memory figure steady."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(2, total_kb // (8 * 1024 * 1024)))}g"


def _environment(work: str, trace: bool) -> None:
    """Launch settings, set before the JVM starts (a traced run enables
    the event log here, from outside the program)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # no JVM may write outside the work dir: -XX:-UsePerfData keeps both
    # the launcher and the driver JVM out of /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _loadavg() -> float:
    return os.getloadavg()[0]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def per_layer(run: Run, log_dir: str) -> dict[str, tuple[float, str]]:
    from perfbench.eventlog import CallSites, Log

    log = Log.read(log_dir)
    tot = log.attribute(run.spans)
    sites = CallSites(ROOT)
    n_search, n_batch = max(1, run.count("search")), max(1, run.count("batch"))
    n_append, n_delete = max(1, run.count("append")), max(1, run.count("delete"))
    s, b, bt = tot["search"], tot["build"], tot["batch"]
    out = {
        "session.start_s": (run.wall("session"), "s"),
        "docnums.stage_s": (run.wall("docnums.stage"), "s"),
        "docnums.jobs": (tot["docnums.stage"].jobs, "count"),
        "tokenize.write_s": (run.wall("tokenize.write"), "s"),
        "tokenize.rows": (run.facts["tokenize.rows"], "count"),
        "build.docs_per_s": (run.spec.n_docs / run.wall("build"), "1/s"),
        "build.jobs": (b.jobs, "count"),
        "build.tasks": (b.tasks, "count"),
        "build.shuffle_write_bytes": (b.shuffle_write_bytes, "B"),
        "build.spill_bytes": (b.spill_bytes, "B"),
        "build.task_busy_s": (b.task_busy_s, "s"),
        "build.core_utilisation": (b.task_busy_s / (run.wall("build") * run.cores), "ratio"),
        "build.max_task_skew": (b.max_task_skew, "ratio"),
        "build.gc_s": (b.gc_s, "s"),
        "build.unattributed_jobs": (b.unattributed_jobs, "count"),
        "index.postings": (run.build["postings"], "count"),
        "index.compressed_bytes": (run.build["compressed_bytes"], "B"),
        "index.vocab_size": (run.build["vocab_size"], "count"),
        "index.n_hot_terms": (run.build["n_hot_terms"], "count"),
        "index.files": (run.facts["index.files"], "count"),
        "parse.us_per_query": (run.facts["parse.us_per_query"], "us"),
        "open.s": (run.wall("open"), "s"),
        "open.tasks": (tot["open"].tasks, "count"),
        "refresh.s": (run.wall("refresh") / max(1, run.count("refresh")), "s"),
        "search.p50_ms": run.ungated()["search_p50_ms"],
        "search.jobs_per_query": (s.jobs / n_search, "count"),
        "search.tasks_per_query": (s.tasks / n_search, "count"),
        "search.input_rows_per_query": (s.input_rows / n_search, "count"),
        "search.input_bytes_per_query": (s.input_bytes / n_search, "B"),
        "search.shuffle_bytes_per_query": (s.shuffle_write_bytes / n_search, "B"),
        "search.job_s_per_query": (s.job_wall_s / n_search, "s"),
        "search.driver_s_per_query": ((run.wall("search") - s.job_wall_s) / n_search, "s"),
        "search.rows_per_result": (s.input_rows / max(1, run.result_rows), "ratio"),
        "wand.kernel_ms_per_query": (run.facts["wand.kernel_ms_per_query"], "ms"),
        "wand.rows_in_per_query": (run.facts["wand.rows_in_per_query"], "count"),
        "batch.queries_per_s": run.ungated()["batch_queries_per_s"],
        "batch.jobs": (bt.jobs / n_batch, "count"),
        "batch.tasks": (bt.tasks / n_batch, "count"),
        "batch.input_rows": (bt.input_rows / n_batch, "count"),
        "batch.driver_s": ((run.wall("batch") - bt.job_wall_s) / n_batch, "s"),
        "append.s": (run.wall("append"), "s"),
        "append.docs_per_s": (run.appended_docs / max(1e-9, run.wall("append") + run.wall("refresh")), "1/s"),
        "append.jobs": (tot["append"].jobs / n_append, "count"),
        "append.shuffle_write_bytes": (tot["append"].shuffle_write_bytes / n_append, "B"),
        "append.task_busy_s": (tot["append"].task_busy_s / n_append, "s"),
        "delete.p50_ms": run.ungated()["delete_p50_ms"],
        "delete.jobs": (tot["delete"].jobs / n_delete, "count"),
        "delete.task_busy_s": (tot["delete"].task_busy_s / n_delete, "s"),
        "spark.jobs": (len(log.jobs), "count"),
        "spark.failed_tasks": (sum(t.failed_tasks for t in tot.values()), "count"),
        "spark.unattributed_jobs": (log.unattributed_jobs, "count"),
        "spark.unresolved_callsite_jobs": (log.unresolved_callsite_jobs(sites), "count"),
    }
    print("\nSpark jobs by engine function (call site -> enclosing function):")
    for fn, (jobs, busy) in sorted(log.by_function(sites).items(), key=lambda kv: -kv[1][1]):
        print(f"  {jobs:5d} jobs {busy:9.3f} s busy  {fn}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:  # the engine must be importable before anything is measured
        import beetle_search_engine_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.procmem import PeakMemory
    from perfbench.stats import tail_percentile

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work, bool(args.trace))
        cores = len(os.sched_getaffinity(0))
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores,
            "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "loadavg_start": _loadavg(),
        }
        steal0 = _steal_s()
        run = Run(SPECS[args.workload], args.seed, args.seconds, work, cores, bool(args.trace))
        # run.attempt counts a raise as one failed operation: a failed
        # set-up, close or metrics read still ends in a parsed record
        with PeakMemory() as mem:
            complete = run.attempt("run", run.execute) is not FAILED
            run.attempt("close", run.close)
        env["loadavg_end"] = _loadavg()
        env["cpu_steal_s"] = round(_steal_s() - steal0, 2)
        print("env " + json.dumps(env))

        def report() -> dict[str, tuple[float, str]]:
            e2e = run.end_to_end()
            e2e["peak_rss_mb"] = (mem.peak_bytes / 2**20, "MB")
            layers = per_layer(run, os.path.join(work, "eventlog")) if args.trace else {}
            print(f"\n{args.workload}: end-to-end{' (traced run)' if args.trace else ''}")
            for name, (v, unit) in e2e.items():
                print(f"  {name:26s} {v:14.4f} {unit}")
            for name, (v, unit) in run.ungated().items():
                print(f"  {name:26s} {v:14.4f} {unit}  (reported, not gated)")
            spans: dict[str, list[float]] = {}
            for name, t0, t1 in run.spans:
                spans.setdefault(name, []).append((t1 - t0) / 1000.0)
            print("  spans: " + ", ".join(f"{k} {sum(v):.2f}s/{len(v)}" for k, v in spans.items()))
            for kind, xs in run.lat.items():
                if xs:
                    print(f"  {kind} ms: " + " ".join(f"{x * 1000:.0f}" for x in xs))
            tail = tail_percentile(run.lat["search"])
            print("  search tail with >=10 beyond: "
                  + (f"p{tail[0]} {tail[1] * 1000:.1f} ms" if tail else "none (too few searches)"))
            if layers:
                print("per-layer")
                for name, (v, unit) in layers.items():
                    print(f"  {name:32s} {v:14.4f} {unit}")
            return layers or e2e

        metrics = run.attempt("metrics", report) if complete else FAILED
        complete = metrics is not FAILED
        error_rate = run.failed / max(1, run.attempted)
        print(f"  error_rate {error_rate:.4f} ({run.failed} of {run.attempted} operations and checks)")
        for err in run.errors[:20]:
            print(f"  error: {err}")
        print(json.dumps({
            "correct": complete and run.failed == 0,
            "attempted": max(1, run.attempted),
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (metrics.items() if complete else ())},
        }))
        return 0 if complete else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
