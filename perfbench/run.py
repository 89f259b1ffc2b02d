"""Product-path benchmark runner.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds a Spark session at
local[<cores available>], runs one workload (see workloads.py) and prints
one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Every run also
leaves a record (environment, load probes, samples, job counts, spans)
under .perfbench/records/ in the checkout.
"""

import time

T_IMPORT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("ingest_docs_per_s", "docs/s"),
    ("refresh_s", "s"),
    ("noop_run_s", "s"),
    ("drain_s", "s"),
    ("search_p50_s", "s"),
    ("search_tail_s", "s"),
    ("eval_qps", "questions/s"),
    ("forget_s", "s"),
]
OPS = ["cold", "refresh", "noop", "drain", "search", "eval", "forget"]
_SPAN_FIELDS = [
    ("sinks.read", ["wall_s", "self_s", "jobs"]),
    ("retrievers.ensure_fresh", ["wall_s", "self_s", "jobs"]),
    ("ann_index.is_stale", ["wall_s", "jobs"]),
    ("retrieval.is_stale", ["wall_s", "jobs"]),
    ("retrievers.topk", ["wall_s", "self_s", "jobs"]),
    ("search.search_corpus", ["wall_s", "self_s"]),
    ("search.collect", ["wall_s", "jobs", "tasks", "exec_s", "gap_s"]),
    ("cli.eval", ["wall_s", "self_s", "jobs"]),
    ("state.changed_rows", ["wall_s"]),
    ("state.commit_state", ["wall_s", "jobs"]),
    ("pipeline.run", ["wall_s", "self_s", "jobs", "gap_s"]),
    ("sources.load", ["wall_s"]),
    ("factory.filters.apply", ["wall_s"]),
    ("chunkers.apply", ["wall_s"]),
    ("embedders.apply", ["wall_s"]),
    ("sinks.write", ["wall_s", "jobs", "tasks", "exec_s", "gap_s"]),
    ("ann_index.build", ["wall_s"]),
    ("retrieval.build", ["wall_s"]),
    ("ann_index.forget", ["wall_s", "jobs"]),
    ("retrieval.forget", ["wall_s", "jobs"]),
    ("sinks.delete_sources", ["wall_s", "jobs"]),
    ("cli.forget", ["wall_s", "self_s", "jobs"]),
    ("stream.drain", ["wall_s", "jobs"]),
    ("session.get_spark", ["wall_s"]),
]
_UNITS = {"wall_s": "s", "self_s": "s", "exec_s": "s", "gap_s": "s",
          "jobs": "count", "tasks": "count"}
STREAM_PHASES = ["addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets"]
PER_LAYER = [
    (f"{layer}.{f}", _UNITS[f]) for layer, fields in _SPAN_FIELDS for f in fields
] + [
    ("pipeline.changed_ratio", "ratio"),
    ("retrievers.rebuilds", "count"),
    ("stream.batches", "count"),
    ("stream.empty_batches", "count"),
] + [(f"stream.{p}_ms", "ms") for p in STREAM_PHASES] + [
    ("search.accounted_ratio", "ratio"),
] + [(f"op.{op}.jobs", "count") for op in OPS] + [
    ("trace.overhead_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_IMPORT


def cpu_times() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal (ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_share(before: list[int], after: list[int]) -> dict:
    """Busy and stolen shares of all cores between two cpu_times()."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy_frac": round((total - d[3] - d[4]) / total, 4),
            "steal_frac": round(d[7] / total, 4)}


def load_probe(window: float = 0.1) -> dict:
    """Whole-box load while this process idles: 1-minute load average
    and the busy and stolen shares of all cores over a short window."""
    t0 = cpu_times()
    time.sleep(window)
    return {"ncpu": os.cpu_count(), "loadavg1": round(os.getloadavg()[0], 2),
            **cpu_share(t0, cpu_times())}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process plus the JVM it launched."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def pin_environment(work: str) -> dict:
    """Core count, memory and every scratch directory, set before the
    JVM starts; returned for the run record."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def end_to_end(out, n_docs: int, setup_s: float, rss_mb: float) -> dict:
    from stats import tail

    s, med = out.samples, statistics.median
    m = {"setup_s": setup_s, "peak_rss_mb": rss_mb}
    if "cold" in s:
        m["ingest_docs_per_s"] = n_docs / med(s["cold"])
    for name, op in (("refresh_s", "refresh"), ("noop_run_s", "noop"),
                     ("drain_s", "drain"), ("search_p50_s", "search"),
                     ("forget_s", "forget")):
        if op in s:
            m[name] = med(s[op])
    searches = s.get("search", [])
    if searches:
        m["search_tail_s"], label = tail(searches)
        out.notes["search_tail"] = {"percentile": label, "samples": len(searches)}
    if "eval" in s:
        m["eval_qps"] = out.notes["eval_questions"] / med(s["eval"])
    return m


def per_layer(tracer, jobs, out, streams) -> dict:
    from layertrace import layer_metrics, union_length

    lm = layer_metrics(tracer, jobs)
    m = {}
    for layer, fields in _SPAN_FIELDS:
        for f in fields:
            m[f"{layer}.{f}"] = lm.get(layer, {}).get(f, 0.0)
    runs = out.notes.get("runs", [])
    m["pipeline.changed_ratio"] = (
        sum(r[1] for r in runs) / max(1, sum(r[0] for r in runs))
    )
    m["retrievers.rebuilds"] = out.notes.get("rebuilds", 0)
    progress = [q.recentProgress for q in streams]
    n = max(1, len(progress))
    m["stream.batches"] = sum(len(p) for p in progress) / n
    m["stream.empty_batches"] = sum(
        1 for p in progress for b in p if b.numInputRows == 0
    ) / n
    for ph in STREAM_PHASES:
        m[f"stream.{ph}_ms"] = sum(
            b.durationMs.get(ph, 0) for p in progress for b in p
        ) / n
    # the share of the searches' wall time inside the sink open, the
    # freshness gate, the top-k plan and the collect
    parts = {"sinks.read", "retrievers.ensure_fresh", "retrievers.topk", "search.collect"}
    covered = total = 0.0
    for s in tracer.spans:
        if s.name != "op.search" or not s.timed:
            continue
        sub = tracer.subtree(s.sid)
        covered += union_length(
            [(c.start, c.end) for c in tracer.spans if c.sid in sub and c.name in parts]
        )
        total += s.end - s.start
    m["search.accounted_ratio"] = covered / total if total else 0.0
    # jobs per operation, setup runs included (serve's cold run is setup)
    for op in OPS:
        m[f"op.{op}.jobs"] = statistics.median(out.jobs.get(op) or [0])
    op_wall = sum(s.end - s.start for s in tracer.spans if s.timed and s.depth == 0)
    m["trace.overhead_s"] = tracer.overhead_s
    m["trace.overhead_ratio"] = tracer.overhead_s / op_wall if op_wall else 0.0
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "yaml_pipe_spark", "__init__.py")):
        print(f"perfbench: no yaml_pipe_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse and friends land in the fresh dir
    probe_pre = load_probe()
    cpu0 = cpu_times()
    try:
        result, record = _run(args, work)
    finally:
        t0 = time.perf_counter()
        _stop_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        teardown_s = time.perf_counter() - t0
    record.update(env=env, load_before=probe_pre, load_during=cpu_share(cpu0, cpu_times()),
                  load_after=load_probe(), teardown_s=teardown_s)
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json"
    path = os.path.join(base, "records", name)
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in record["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"perfbench: record {path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _run(args, work: str) -> tuple[dict, dict]:
    from layertrace import SparkCounters, Tracer
    from workloads import WORKLOADS, Bench

    tracer = Tracer() if args.trace else None
    streams: list = []
    if tracer:
        tracer.install()
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        start = DataStreamWriter.start

        def capture(self, *a, **kw):
            q = start(self, *a, **kw)
            streams.append(q)
            return q

        tracer.patch(DataStreamWriter, "start", start, capture)

    from yaml_pipe_spark import session

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("FATAL")
    counters = SparkCounters(spark)
    if tracer:
        tracer.job_counter = counters.next_job_id
    b = Bench(spark, work, args.seed, counters, tracer)
    WORKLOADS[args.workload](b, args.seconds)
    out = b.out
    first = out.first_timed or time.perf_counter()
    setup_s = process_age() - (time.perf_counter() - first)
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    rss = peak_rss_mb(jvm.pid if jvm else None)
    if tracer:
        tracer.uninstall()
        metrics = per_layer(tracer, b.jobs_seen, out, streams)
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(out, len(b.corpus.files), setup_s, rss)
        units = dict(E2E)
    _job_repeats(out)
    missing = [k for k in units if k not in metrics]
    if missing:
        out.problems.append(f"no value for {missing}")
    result = {
        "correct": out.failed == 0 and not missing,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics
        },
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": b.cycles,
        "corpus_sha256": b.corpus.digest(), "samples": out.samples,
        "jobs": out.jobs, "job_names": out.job_names, "notes": out.notes,
        "problems": out.problems,
        "result": result,
    }
    if tracer:
        record["spans"] = [vars(s) for s in tracer.spans]
    return result, record


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _job_repeats(out) -> None:
    """Each operation must run the same number of Spark jobs every time
    it repeats within a run."""
    for op, counts in out.jobs.items():
        if len(set(counts)) > 1:
            out.failed += 1
            out.problems.append(f"{op}: job counts differ across repeats: {counts}")


if __name__ == "__main__":
    sys.exit(main())
