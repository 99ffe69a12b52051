"""perfbench: run one workload from a seed, check its outputs, print metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes stays under
``.perfbench_work/`` in the current directory. Inputs are generated first,
by ``perfbench/gen.py`` in a process of its own, so that neither its time
nor its memory counts; then this process, with one Spark session on
``local[4]`` and a fixed 2 GiB driver heap, runs the workload. Set-up ends
with one untimed warm-up op on a small slice of the input; then ops run
back to back until ``--seconds`` have passed and at least the workload's
``min_ops`` have run, and ``batch_p50_s`` is the median over them.
``--trace 0`` times them with tracing off and reports the end-to-end
metrics. ``--trace 1`` runs five ops, traced, untraced, traced, traced,
untraced, records the Spark event log, runs the layer probes, and reports
the per-layer metrics of op 0 and the tracing overhead; the spans go to
``.perfbench_work/trace-<workload>-s<seed>.json``.
The last line of standard output is one JSON object; the lines before it
name every metric with its unit. A failed output check makes the run
report ``correct: false`` and exit with status 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
BUILD_ROUNDS = 3
#: which ops a traced run traces: op 0 for the per-layer metrics, then
#: untraced, traced, traced, untraced for the overhead
TRACE_PATTERN = (True, False, True, True, False)
#: driver heap, fixed (-Xms = -Xmx) and touched at start-up, so that the
#: JVM's resident memory does not depend on how many heap regions the
#: collector happened to use; letting it grow from its default
#: start size was the largest source of run-to-run spread in set-up time,
#: op latency and peak RSS
HEAP = "2g"


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from ``/proc/stat``, in ticks:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def session(work: str, evdir: str | None):
    """The benchmark's Spark session; ``evdir``: write the event log there."""
    from schisma_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                                           f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if evdir:
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false"})
    return build_session("perfbench", master=f"local[{CORES}]", extra=conf)


def stop(spark) -> None:
    """Stop the session and the JVM it launched; wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(wl, tr, probe_out: dict, evdir: str, overhead: float) -> dict:
    """Per-layer metrics of the traced op 0, plus the probes."""
    from perfbench.trace import SpanView, span_counters

    counters, task_times = span_counters(evdir, tr.run_id)
    v = SpanView(tr.spans, counters, task_times, op=0)
    p = SpanView(tr.spans, counters, task_times, op="probe")
    op_wall = v.wall("op")
    m = {
        "compiler.build_s": (v.wall("compiler.build"), "s"),
        "compiler.plan_s": (p.wall("compiler.plan"), "s"),
        "compiler.plan_chars": (probe_out.get("compiler.plan_chars", 0), "chars"),
        "validate.verdicts_s": (v.wall("spark.collect", "runner.run_resumable"), "s"),
        "validate.violations_s": (p.wall("validate.violations"), "s"),
        "validate.incremental_s": (v.wall("validate.incremental"), "s"),
        "validate.delta_share": (probe_out.get("validate.delta_share", 0), "ratio"),
        "checks.uniqueness_s": (p.wall("checks.uniqueness"), "s"),
        "checks.fk_s": (p.wall("checks.fk"), "s"),
        "checks.shuffle_write_bytes": (
            p.counter("checks.uniqueness", "shuffle_write_bytes")
            + p.counter("checks.fk", "shuffle_write_bytes"), "bytes"),
        "manifest.plan_remaining_s": (v.wall("manifest.plan_remaining"), "s"),
        "manifest.rows_scanned_per_batch_row": (
            v.counter("manifest.plan_remaining", "records_read") / wl.rows_per_op, "ratio"),
        "manifest.append_s": (v.wall("manifest.append"), "s"),
        "manifest.records_s": (v.wall("manifest.records"), "s"),
        "sources.write_s": (v.wall("sources.write"), "s"),
        "sources.files_written": (v.counter("sources.write", "files_written"), "count"),
        "sources.bytes_written": (v.counter("sources.write", "bytes_written"), "bytes"),
        "runner.run_resumable_s": (v.self_time("runner.run_resumable"), "s"),
        "decode.validate_s": (v.wall("decode.validate"), "s"),
        "decode.caption_s": (v.wall("decode.caption"), "s"),
        "decode.python_bytes_in": (v.counter("decode.validate", "python_bytes_in"), "bytes"),
        "decode.task_skew": (v.task_skew("decode.validate"), "ratio"),
        "json_validate.validate_s": (v.wall("json_validate.validate"), "s"),
        "variant_validate.validate_s": (v.wall("variant_validate.validate"), "s"),
        "conform.conform_json_s": (v.wall("conform.conform_json"), "s"),
        "spark.jobs": (v.counter("op", "jobs"), "count"),
        "spark.tasks": (v.counter("op", "tasks"), "count"),
        "spark.busy_share": (
            v.counter("op", "run_s") / (op_wall * CORES) if op_wall else 0.0, "ratio"),
        "spark.gc_s": (v.counter("op", "gc_s"), "s"),
        "spark.spill_bytes": (v.counter("op", "spill_bytes"), "bytes"),
        "trace.overhead_s": (overhead, "s"),
    }
    return {k: {"value": val, "unit": u} for k, (val, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, REPO)
    import schisma_spark  # noqa: F401  (fails fast outside a repository checkout)

    from perfbench.steady import tail
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    t = time.perf_counter()
    data = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "gen.py"), "--workload", a.workload,
         "--seed", str(a.seed), "--out", os.path.join(work, "data")],
        check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    gen_s = time.perf_counter() - t
    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    evdir = os.path.join(work, f"eventlog-{os.getpid()}") if a.trace else None

    lat, traced, untraced, infos, failed = [], [], [], [], 0
    with RssSampler(os.getpid()) as rss:
        spark = session(work, evdir)
        try:
            tr = Tracer(spark.sparkContext)
            wl = WORKLOADS[a.workload](spark, data, run_dir, tr)
            session_s = time.perf_counter() - T_START - gen_s
            builds = []
            for _ in range(BUILD_ROUNDS):
                t = time.perf_counter()
                wl.build()
                builds.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.prepare()
            wl.warmup()
            setup_s = session_s + statistics.median(builds) + time.perf_counter() - t
            if a.trace:
                wl.trace_wraps()

            # A traced run runs TRACE_PATTERN; the overhead comes from ops
            # 1-4, whose order cancels the ops' steady speed-up.
            cpu0 = cpu_times()
            t_loop = time.perf_counter()
            t_end = t_loop + a.seconds
            i = 0
            while (i < len(TRACE_PATTERN) if a.trace
                   else i < wl.min_ops or time.perf_counter() < t_end):
                tr.op = i
                tr.enabled = bool(a.trace) and TRACE_PATTERN[i]
                t = time.perf_counter()
                try:
                    with tr.span("op"):
                        infos.append(wl.op(i))
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    infos.append(None)
                dt = time.perf_counter() - t
                if infos[-1] is not None:
                    lat.append(dt)
                    if i:
                        (traced if tr.enabled else untraced).append(dt)
                i += 1
            loop_s = time.perf_counter() - t_loop
            # share of the virtual CPUs' time the host ran something else:
            # not a metric of the program, but it explains slow runs
            d = [b - a for a, b in zip(cpu0, cpu_times())]
            steal = d[7] / sum(d) if sum(d) else 0.0
            attempted = i
            # peak over set-up and the ops; the checks below are not the
            # workload's memory
            peak_mb = rss.peak / 2**20
            tr.enabled = False

            probe_out = {}
            if a.trace:
                tr.op, tr.enabled = "probe", True
                probe_out = wl.probes()
                tr.enabled = False
                tr.unwrap_all()

            t_check = time.perf_counter()
            for info in infos:
                if info is None:
                    continue
                problems = wl.check(info)
                if problems:
                    failed += 1
                    print("check failed:", *problems, sep="\n  ", file=sys.stderr)
            last = next((x for x in reversed(infos) if x is not None), None)
            if last is not None:
                problems = wl.final_check(last)
                if problems:
                    failed = min(attempted, failed + 1)
                    print("final check failed:", *problems, sep="\n  ", file=sys.stderr)
            wl.close()
            check_s = time.perf_counter() - t_check
        finally:
            stop(spark)

    if not lat:
        print("perfbench: every op failed", file=sys.stderr)
        return 1
    p50 = statistics.median(lat)
    print(f"perfbench {a.workload} seed={a.seed} ops={attempted} failed={failed} "
          f"rows_per_op={wl.rows_per_op} gen_s={gen_s:.3f} check_s={check_s:.3f}")
    print("latencies_s", json.dumps([round(x, 6) for x in lat]))
    print(f"host_steal_share {steal:.4f}")
    if a.trace:
        overhead = (statistics.mean(traced) - statistics.mean(untraced)
                    if traced and untraced else 0.0)
        metrics = layer_metrics(wl, tr, probe_out, evdir, overhead)
        trace_path = os.path.join(work, f"trace-{a.workload}-s{a.seed}.json")
        tr.dump(trace_path, {"workload": a.workload, "seed": a.seed,
                             "traced_ops": traced, "untraced_ops": untraced})
        shutil.rmtree(evdir, ignore_errors=True)
        print(f"trace: layer metrics of op 0; overhead from {len(traced)} traced and "
              f"{len(untraced)} untraced ops {overhead:+.4f} s/op; spans in {trace_path}")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": wl.rows_per_op * len(lat) / loop_s, "unit": "rows/s"},
            "batch_p50_s": {"value": p50, "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
        print(f"  batch_tail_s: {tail(lat)}")
        print(f"  failed_op_share: {failed / attempted:.4f} ratio")
    for k, m in metrics.items():
        print(f"  {k}: {m['value']:.6g} {m['unit']}")
    if not failed:  # a failed run keeps its outputs for inspection
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
