"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload podcast --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, on ``local[4]`` with one client
thread.  An untimed warm-up, the timed set-up (repeated; the median is
reported), then closed-loop passes until ``--seconds`` of operations
have run (at least one pass), each followed by its correctness checks,
outside the timed region.  With ``--trace 1`` the run makes a
second untimed pass, a pass with spans, job groups and py4j counting
on, and an untraced pass; the per-layer metrics come from the traced
pass and from the Spark event log, and the tracing overhead is the
traced pass minus the untraced one.  See perfbench/README.md.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Each run also appends a record with the
machine fingerprint to ``.perfbench_work/results.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "serverless_podcast_etl_spark"
WORKLOADS = ["podcast", "curation"]
COMPARABLE = ["nproc", "affinity", "mem_mb", "spark", "python", "java"]
CORES = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    turn on the uncompressed event log for traced runs."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            # Spark 4 compresses with zstd by default; keep it readable
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'--conf "{k}={v}"' for k, v in conf.items()
    ) + " pyspark-shell"
    return events


def _git_head() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        return open(path).read().strip() if os.path.isfile(path) else ref[5:]
    return ref


def _source_sha(package: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(os.path.join(ROOT, package))):
        for n in sorted(names):
            if n.endswith(".py"):
                h.update(n.encode())
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "mem_mb": mem_kb // 1024,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_head": _git_head(),
        "source_sha": _source_sha(PACKAGE),
        "bench_sha": _source_sha("perfbench"),
        "loadavg_start": os.getloadavg(),
        "steal_start": _steal(),
    }


def _steal() -> list[int]:
    """(steal, total) jiffies from /proc/stat, for the run's steal share."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return [ticks[7], sum(ticks)]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass_s(ops) -> float:
    return sum(o.seconds for o in ops)


def end_to_end(setup_times, passes, storage) -> dict:
    """The BENCHMARK.json end-to-end metrics, from untraced passes."""
    stored_bytes, input_bytes = storage
    return {
        "setup_s": (_median(setup_times), "s"),
        "pass_s": (_median([_pass_s(p) for p in passes]), "s"),
        "stored_bytes_per_input_byte": (stored_bytes / max(input_bytes, 1), "ratio"),
    }


def op_summary(passes, rss) -> dict:
    """The untraced passes broken down by operation kind, under the
    names the workload descriptions use (0 where a kind is absent),
    with the JVM's peak memory."""
    ops = [o for p in passes for o in p]

    def med(kind):
        return _median([o.seconds for o in ops if o.kind == kind])

    loads = [o for o in ops if o.kind == "load"]
    load_s = sum(o.seconds for o in loads)
    return {
        "op.p50_ms": 1000 * _median([o.seconds for o in ops]),
        "op.episode_load_s": med("load"),
        "op.feed_refresh_s": med("refresh"),
        "op.dashboard_p50_ms": 1000 * med("request"),
        "op.etl_sentences_per_s": (
            sum(o.extra.get("sentences", 0) for o in loads) / load_s if loads else 0.0
        ),
        "op.curation_pass_s": _median(
            [_pass_s([o for o in p if o.kind == "query"]) for p in passes]
        ),
        "jvm.peak_rss_mb": rss,
    }


def make_workload(args, spark, work, tracer):
    if args.workload == "podcast":
        from perfbench.podcast import PodcastWorkload

        return PodcastWorkload(spark, work, args.seed, tracer)
    from perfbench.curation import CurationWorkload

    return CurationWorkload(spark, work, args.seed, tracer, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    shutil.rmtree(work, ignore_errors=True)
    events = prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from serverless_podcast_etl_spark.session import get_spark

    from perfbench import trace as tr

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    fp = fingerprint(spark)
    tracer = tr.Tracer(spark, run_id)
    wl = None
    try:
        wl = make_workload(args, spark, work, tracer)
        # the fresh JVM's first work: checked and counted, not timed
        warm = wl.warm_up()
        wl.run_checks()
        setup_times = wl.setup()
        passes, traced = [], []
        if args.trace:
            # Passes speed up steeply right after the warm-up, then
            # level off: one more untimed pass, then the traced pass,
            # then an untraced one as the reference for the tracing
            # overhead.
            warm += wl.run_pass()
            wl.run_checks()
            tracer.install()
            tracer.enabled = True
            traced = wl.run_pass()
            tracer.enabled = False
            wl.run_checks()
            passes.append(wl.run_pass())
            wl.run_checks()
        else:
            busy = 0.0
            while not passes or busy < args.seconds:
                passes.append(wl.run_pass())
                wl.run_checks()
                busy += _pass_s(passes[-1])
        storage = (wl.stored_bytes, wl.input_bytes)
        files_written = wl.files_written
        rss = jvm_peak_rss_mb(spark)
    finally:
        if wl is not None:
            wl.cleanup()
        stop_spark(spark)
    fp["loadavg_end"] = os.getloadavg()
    steal, total = (b - a for a, b in zip(fp.pop("steal_start"), _steal()))
    fp["steal_share"] = steal / max(total, 1)

    all_ops = warm + [o for p in passes for o in p] + traced
    failed = [o for o in all_ops if o.error]
    for o in failed:
        print(f"[perfbench] FAILED {o.kind} {o.name}: {o.error}", file=sys.stderr)
    e2e = end_to_end(setup_times, passes, storage)
    summary = op_summary(passes, rss)
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "fingerprint": fp,
        "setup_times": setup_times, "warm_s": _pass_s(warm),
        "pass_times": [_pass_s(p) for p in passes],
        "ops": [[o.kind, o.name, o.seconds, o.error] for p in passes for o in p],
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "summary": summary,
        "failed_share": len(failed) / len(all_ops),
    }
    if args.trace:
        from perfbench.curation import QUERIES

        idx = tr.SpanIndex(tracer.spans, tr.read_event_log(events), run_id)
        layers = tr.layer_metrics(idx, QUERIES)
        on_wh = args.workload == "podcast"  # curation writes indexes, not a warehouse
        layers["warehouse.files_written"] = float(files_written if on_wh else 0)
        layers["warehouse.bytes_stored"] = float(storage[0] if on_wh else 0)
        layers["trace.pass_s"] = _pass_s(traced)
        layers["trace.overhead_s"] = _pass_s(traced) - _pass_s(passes[0])
        layers["trace.self_s"] = tracer.self_s
        layers.update(summary)
        tracer.write(os.path.join(base, f"spans-{run_id}.jsonl"))
        metrics = {k: {"value": v, "unit": tr.unit_of(k)} for k, v in layers.items()}
        record["per_layer"] = layers
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(base, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    print("fingerprint " + json.dumps(fp))
    for k, v in sorted({**record["end_to_end"], **summary}.items()):
        print(f"  {k:34s} {v:.6g}")
    print(f"  {'failed_share':34s} {record['failed_share']:.6g}")
    print(json.dumps({
        "correct": not failed, "attempted": len(all_ops), "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
