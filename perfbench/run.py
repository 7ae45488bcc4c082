"""Repository benchmark: study drop -> fresh correlations, and corpus curation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload study_drop --seed 1 --seconds 10 --trace 0

One process, one ``local[nproc]`` SparkSession, one closed-loop client. The
run sets up (session start, fixture generation, warm-up), then runs
``--seconds`` worth of timed operations (a fixed count per workload, from
its nominal operation time) on freshly generated inputs, checks every output, and prints one JSON object as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Human-readable detail goes to standard error.
Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""
from __future__ import annotations

import argparse
import json
import os
import pathlib
import resource
import shutil
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
#: No new operation starts once this much of the process's wall time is
#: gone: a run must end within 180 s even when the machine is slow.
START_BUDGET_S = 120.0


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def start_session(work: pathlib.Path, cores: int, trace: bool):
    """The benchmark's own session: local[nproc], shuffle partitions = nproc,
    a 4 GB driver heap, scratch and event log inside ``work``, ERROR logs."""
    from etl_for_all_studies_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus this process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        proc = pathlib.Path(f"/proc/{jvm_pid}")
        if (proc / "comm").read_text().strip() != "java":
            raise RuntimeError(f"gateway process {jvm_pid} is not the JVM")
        for line in (proc / "status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)


def write_trace(path: pathlib.Path, tracer, log) -> None:
    """Spans with their self time, and the stage records of their jobs."""
    from perfbench.tracing import self_times

    st = self_times(tracer.spans)
    groups = {s.group for s in tracer.spans}
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(
        json.dumps(
            {
                "spans": [
                    {
                        "id": s.sid, "parent": s.parent, "name": s.name, "op": s.op,
                        "start": s.start, "end": s.end, "self_s": st[s.sid], "group": s.group,
                    }
                    for s in tracer.spans
                ],
                "stages": [
                    {k: (sorted(v) if isinstance(v, set) else v) for k, v in vars(r).items()}
                    for r in log.stages.values() if r.group in groups
                ],
            },
            indent=1,
        )
    )
    _log(f"trace written to {path.relative_to(ROOT)}")


def main(argv: list[str]) -> int:
    args = _parse(argv)
    t_process = time.perf_counter()
    if not (ROOT / "etl_for_all_studies_spark" / "__init__.py").is_file():
        _log(f"perfbench: no etl_for_all_studies_spark package under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.tracing import Tracer, median, read_event_log, tail_percentile
    from perfbench.workloads import END_TO_END_UNITS, LAYER_UNITS, WORKLOADS, mean_metrics

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if args.seconds <= 0:
        _log("perfbench: --seconds must be positive")
        return 2

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers (the curation kernels run in them) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, bool(args.trace))
        gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        workload.setup()
        setup_s = time.perf_counter() - t0
        _log(f"setup {setup_s:.2f}s on local[{cores}]")

        tracer = Tracer(spark.sparkContext) if args.trace else None
        targets = workload.trace_targets() if tracer else []
        results = []  # (index, prep, OpResult | None)
        failed = 0
        # A fixed operation count per run, not "as many as fit": a count
        # that flips between runs with machine load would mix warmer and
        # colder operations into the median. Traced runs alternate untraced
        # and traced operations, starting and ending untraced.
        n_ops = max(1, round(args.seconds / workload.nominal_op_s))
        if tracer is not None:
            n_ops = max(3, n_ops | 1)
        for i in range(n_ops):
            traced = tracer is not None and i % 2 == 1
            prep = workload.prepare(i)
            out = None
            t_op = time.perf_counter()
            try:
                if traced:
                    with tracer.installed(targets, i):
                        out = workload.run(prep, tracer)
                else:
                    out = workload.run(prep, None)
                out.traced = traced
                workload.check(prep, out)
                if traced:
                    workload.count_traced(prep, out, [s for s in tracer.spans if s.op == i])
            except Exception:  # noqa: BLE001 -- a failed operation is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                out = None
            finally:
                workload.cleanup(prep)
            if out is None or out.errors:
                failed += 1
                _log(f"op {i} FAILED: {out.errors if out else 'exception'}")
            else:
                calls = " ".join(f"{k}={v:.3f}s" for k, v in out.calls.items())
                _log(f"op {i}{' traced' if traced else ''}: {calls}")
            results.append((i, prep, out))
            now = time.perf_counter()
            if i + 1 < n_ops and now - t_process + (now - t_op) > START_BUDGET_S:
                _log("perfbench: time budget reached; stopping early")
                break

        rss = peak_rss_mb(gateway_proc.pid if gateway_proc else None)
        stop_session(spark)
        spark = None

        ok = [(j, p, o) for j, p, o in results if o is not None and not o.errors]
        attempted = len(results)
        timed = [o for _, _, o in ok if not o.traced]
        if not timed:
            _log("perfbench: no untraced operation completed")
            print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
            return 1

        walls = [o.wall for o in timed]
        n = len(walls)
        tail = tail_percentile(n)
        _log(
            f"op wall p50 {median(walls):.3f}s over {n} ops"
            + (f", p{tail} {sorted(walls)[int(n * tail / 100)]:.3f}s" if tail else ", too few for a tail")
        )
        phase_p50 = {
            f"{call}_p50_s": median([o.calls[call] for o in timed])
            for call in timed[0].calls
        }
        for k, v in phase_p50.items():
            _log(f"{k} {v:.3f}")

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "op_p50_s": median(walls),
                "input_mb_per_s": sum(o.input_bytes for o in timed) / 1e6 / sum(walls),
                "peak_rss_mb": rss,
                "out_bytes_per_row": median([o.out_bytes / o.out_rows for o in timed]),
            }
            metrics = {k: (values[k], u) for k, u in END_TO_END_UNITS.items()}
        else:
            log = read_event_log(work / "eventlog")
            layers = mean_metrics(
                [
                    workload.layer_metrics(p, o, [s for s in tracer.spans if s.op == j], log, cores)
                    for j, p, o in ok if o.traced
                ]
            )
            traced_walls = [o.wall for _, _, o in ok if o.traced]
            layers["trace.overhead_share"] = (
                median(traced_walls) / median(walls) - 1.0 if traced_walls else 0.0
            )
            layers["failed_op_share"] = failed / attempted
            for call in ("ingest", "refresh", "curate"):
                layers[f"{call}_p50_s"] = phase_p50.get(f"{call}_p50_s", 0.0)
            metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}
            write_trace(
                ROOT / ".perfbench_work" / "traces" / f"{args.workload}-seed{args.seed}.json",
                tracer, log,
            )
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            try:
                stop_session(spark)
            except Exception:  # noqa: BLE001 -- already failing; report the first error
                traceback.print_exc(file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
