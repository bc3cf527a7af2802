"""Benchmark entry point.

    python3 perfbench/run.py --workload shortlist --seed 7 --seconds 20 --trace 0

Runs from the root of a checkout of the repository. Starts one Spark
session on ``local[<usable cores>]``, sets the workload up several
times (reporting the median), then runs operations in a closed loop
with one client for ``--seconds`` seconds, checking every answer with
an oracle. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
``attempted`` counts every timed operation plus one for the check of
the set-up's output (the shortlist index), which ``failed`` counts if
it is wrong; a wrong answer counts as a failed operation.
Earlier lines record the run environment and, when traced, every
layer's span times. Spans are written to
``.perfbench_work/traces/<workload>-seed<seed>.jsonl``.

The traced run alternates untraced and traced operations, at least
one of each: per-layer times and bytes come from the traced ones,
job/stage/task counts from the untraced ones, and
``trace.overhead_ratio`` is the traced median latency over the
untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3

# Per-layer metrics, name -> unit, reported on every workload (0 where
# the workload does not exercise the layer). Unless noted in ``main``,
# each is the median over the traced operations of the run: span times
# are inclusive seconds per operation, the rest are counts and ratios
# recorded at the same boundaries.
LAYER_METRICS = {
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "spark.exec_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.python_bytes_sent": "bytes",
    "embedding.query_s": "s",
    "similarity_blas.call_s": "s",
    "similarity_blas.exec_s": "s",
    "similarity_blas.partial_rows": "count",
    "similarity_blas.topk_yield": "ratio",
    "sectioner.exec_s": "s",
    "sectioner.sections_out": "count",
    "parsing.assemble_s": "s",
    "parsing.parse_s": "s",
    "parsing.valid_doc_ratio": "ratio",
    "scoring.llm_s": "s",
    "embedding.docs_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.candidate_yield": "ratio",
    "dedup.planted_recall": "ratio",
    "cluster.components_s": "s",
}


def _environment(workdir: Path) -> None:
    """Pin the session to the usable cores and keep every file the run
    writes (Spark scratch, JVM temp files) inside the checkout."""
    for sub in ("spark-local", "tmp"):
        (workdir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a heap cap that fits the workloads with room to spare, below the
    # program's 16g default, so a run cannot grow into a shared host's
    # memory
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        (
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={workdir / 'tmp'}",
            "-XX:-UsePerfData",
            "-Dspark.ui.showConsoleProgress=false",
        )
    ).strip()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import resume_jd_matcher_spark  # noqa: F401 — fail fast without the program

    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(workdir)

    from oracles import percentile
    from tracing import JobGroups, Tracer, plan_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    from resume_jd_matcher_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    tracer = Tracer(False)
    try:
        wl = WORKLOADS[args.workload](spark, tracer, str(workdir), args.seed)
        groups = JobGroups(spark.sparkContext, f"{args.workload}-{args.seed}")

        reps = []
        for rep in range(SETUP_REPS):
            tracer.enabled, tracer.op = bool(args.trace), f"setup{rep}"
            t = time.perf_counter()
            wl.setup_rep(rep)
            reps.append(time.perf_counter() - t)
        tracer.enabled, tracer.op = False, None
        setup_error = wl.finish_setup()

        env = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": len(os.sched_getaffinity(0)),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "input_partitions": wl.partitions,
            "spark": spark.version,
            "python": platform.python_version(),
            "setup_reps_s": reps,
            "session_start_s": session_s,
        }
        print(json.dumps({"env": env}), flush=True)

        lat_all, lat_traced, lat_plain, docs = [], [], [], 0
        op_counts: dict[int, dict] = {}
        untraced_ops: list[int] = []
        attempted, failed = 1, int(setup_error is not None)
        if setup_error:
            print(f"FAILED setup: {setup_error}", file=sys.stderr)
        deadline = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() < deadline or (args.trace and i < 2):
            traced = bool(args.trace) and i % 2 == 1
            attempted += 1
            if args.trace:
                groups.begin(i)
            tracer.enabled, tracer.op = traced, i
            try:
                res = wl.op(i, traced)
            except Exception:  # noqa: BLE001 — a failed operation is a result
                failed += 1
                traceback.print_exc()
                i += 1
                continue
            finally:
                tracer.enabled = False
                if args.trace:
                    groups.end()
            if res.error:
                failed += 1
                print(f"FAILED op {i}: {res.error}", file=sys.stderr)
            lat_all.append(res.latency_s)
            docs += res.docs
            if traced:
                lat_traced.append(res.latency_s)
                c = dict(res.counts)
                for df in res.plans:
                    m = plan_metrics(df)
                    c["spark.shuffle_write_bytes"] = c.get("spark.shuffle_write_bytes", 0.0) + m["shuffleBytesWritten"]
                    c["spark.python_bytes_sent"] = c.get("spark.python_bytes_sent", 0.0) + m["pythonDataSent"]
                op_counts[i] = c
            else:
                lat_plain.append(res.latency_s)
                untraced_ops.append(i)
            i += 1

        if not lat_all:
            print("no operation completed", file=sys.stderr)
            return 1
        p50, p90 = percentile(lat_all, 50), percentile(lat_all, 90)
        busy = sum(lat_all)
        summary = {
            "ops": len(lat_all),
            "failed_ratio": failed / attempted,
            "p50_n": p50["n"],
            "p90_n_beyond": p90["n_beyond"],
            "busy_s": busy,
            "latencies_ms": [round(x * 1e3, 1) for x in lat_all],
        }
        print(json.dumps({"summary": summary}), flush=True)

        if args.trace:
            if not lat_traced or not lat_plain:
                print("traced run needs at least two operations", file=sys.stderr)
                return 1
            time.sleep(0.5)  # let the listener bus deliver the last job events
            jobs = [groups.counts(j) for j in untraced_ops]
            per_op = tracer.per_op()
            traced_ops = [per_op.get(j, {}) | op_counts[j] for j in op_counts]
            setup_ops = [per_op[f"setup{r}"] for r in range(SETUP_REPS) if f"setup{r}" in per_op]
            layers = {
                "ops": {k: _median([o.get(k, 0.0) for o in traced_ops]) for k in sorted({k for o in traced_ops for k in o})},
                "setup": {k: _median([o.get(k, 0.0) for o in setup_ops]) for k in sorted({k for o in setup_ops for k in o})},
            }
            print(json.dumps({"layers": layers}), flush=True)
            metrics = {k: (layers["ops"].get(k, 0.0), u) for k, u in LAYER_METRICS.items()}
            metrics["session.start_s"] = (session_s, "s")
            # the index read happens once per set-up, not per operation
            metrics["sources.read_s"] = (layers["setup"].get("sources.read_s", 0.0), "s")
            # counted on the untraced operations: tracing adds jobs
            for k in ("spark.jobs", "spark.stages", "spark.tasks"):
                metrics[k] = (_median([j[k] for j in jobs]), "count")
            metrics["trace.overhead_ratio"] = (_median(lat_traced) / _median(lat_plain), "ratio")
        else:
            metrics = {
                "setup_s": (session_s + _median(reps), "s"),
                "latency_p50_ms": (p50["value"] * 1e3, "ms"),
                "latency_p90_ms": (p90["value"] * 1e3, "ms"),
                "requests_per_s": (len(lat_all) / busy, "1/s"),
                "docs_per_s": (docs / busy, "1/s"),
            }
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
        _stop(spark)
        if tracer.spans:
            traces = ROOT / ".perfbench_work" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(traces / f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
