#!/usr/bin/env python3
"""Benchmark of the record-linkage engine along the path users run.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload repo_files --seed 1 --seconds 10 --trace 0

--trace 0 times the workload untraced and prints the end-to-end metrics;
--trace 1 makes one traced pass with a Spark job group per layer and prints
the per-layer metrics rolled up from Spark's event log. Every run checks the
program's outputs against independent recomputations (checks.py) once, after
the timed section. Human-readable lines come first; the last line of standard
output is one JSON object. See README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "memory_optimized_splink_spark"
WORK_DIR = ".perfbench_work"

# Session settings pinned for every run, so both sides of an A/B match
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Start from an empty work directory under the checkout and keep every
    scratch file of this process, the JVM and the Python workers in it."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} " \
        "-XX:-UsePerfData"
    tempfile.tempdir = tmp


def _import_program(root: str) -> None:
    sys.path.insert(0, root)
    try:
        pkg = __import__(PACKAGE)
    except ImportError as exc:
        raise SystemExit(f"error: cannot import {PACKAGE} from {root}: {exc}")
    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != root:
        raise SystemExit(f"error: {PACKAGE} was imported from {where}, not "
                         f"from the checkout at {root}")


def _session(work: str, trace: bool):
    from memory_optimized_splink_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores()}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS,
                     checkpoint_dir=os.path.join(work, "rdd_checkpoints"),
                     extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _timed_setups(wl, repeats: int) -> list[float]:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        wl.setup()
        walls.append(time.perf_counter() - t0)
    return walls


def _untraced(wl, seconds: float, setups: list[float]):
    """(measurement, problems, lines, metrics) of a timed run."""
    from report import latency_lines

    t0 = time.perf_counter()
    m = wl.measure(seconds)
    measure_s = time.perf_counter() - t0
    if not m.walls:
        raise SystemExit(f"error: every operation failed: {m.errors}")
    t0 = time.perf_counter()
    problems = wl.check()
    check_s = time.perf_counter() - t0
    f = wl.facts
    e2e = statistics.median(m.walls)
    metrics = {"setup_s": (statistics.median(setups), "s"),
               "e2e_s": (e2e, "s")}
    lines = [f"setup_s = {metrics['setup_s'][0]:.6g} s (median of "
             f"{len(setups)} set-ups; session start-up not included)",
             f"# measure_s={measure_s:.3f} (warm-up included) "
             f"check_s={check_s:.3f}"]
    if wl.name == "incremental_match":
        scores = m.extra.get("pair_score_s", [])
        loop = m.extra["loop_s"][0]
        lines.append(f"e2e_s = {e2e:.6g} s (median find_matches request)")
        lines += latency_lines("find_matches_ms", "ms",
                               [w * 1e3 for w in m.walls])
        lines += latency_lines("pair_score_us", "us",
                               [w * 1e6 for w in scores])
        lines.append(f"requests_per_s = {m.attempted / loop:.6g} 1/s "
                     f"({m.attempted} requests in {loop:.3f} s, one client)")
        # successful calls fall into a few latency modes (by how many string
        # kernels a pair reaches) and the shared host slows calls for
        # seconds at a time; the mean over pairs of each pair's fastest
        # call moves with neither
        if "pair_ok_fastest_mean_s" not in m.extra:
            raise SystemExit(f"error: every single-pair request failed: "
                             f"{m.errors}")
        pair_ms = m.extra["pair_ok_fastest_mean_s"][0] * 1e3
        calls = len(next(iter(wl.pair_walls.values())))
        lines.append(f"pair_score_fastest_mean_ms = {pair_ms:.6g} ms (mean "
                     f"over the {len(wl.pair_walls)} pairs that succeed of "
                     f"each pair's fastest of {calls} calls, "
                     f"{m.extra['cycles'][0]} cycles)")
        metrics["second_op_ms"] = (pair_ms, "ms")
    else:
        lines.append(f"e2e_s = {e2e:.6g} s (median of {len(m.walls)} "
                     f"passes, input to forced clusters)")
        lines.append(f"pairs_per_s = {f['pairs'] / e2e:.6g} 1/s "
                     f"({f['pairs']} candidate pairs, {len(wl.pdf)} rows, "
                     f"{f['clusters']} clusters)")
        lines.append(f"cold_pass_s = {m.extra['cold_pass_s'][0]:.6g} s "
                     "(the first pass in the process, not in e2e_s)")
        resumes = m.extra.get("resume_s")
        if resumes:
            resume = statistics.median(resumes)
            lines.append(f"resume_s = {resume:.6g} s (median of "
                         f"{len(resumes)})")
            metrics["second_op_ms"] = (resume * 1e3, "ms")
        if "pairwise_f1" in f:
            lines.append(f"pairwise_f1 = {f['pairwise_f1']:.6g} ratio")
    return m, problems, lines, metrics


def _traced(wl, work: str, spark):
    """(measurement, problems, lines, metrics) of a traced pass, after a
    warm-up and the untraced twin it is compared with."""
    from eventlog import LAYER_FIELDS, LAYERS, Tracer, read_events, rollup

    wl.warm_up()
    reference = wl.reference()
    tracer = Tracer(spark.sparkContext)
    t0 = time.perf_counter()
    m = wl.traced(tracer)
    traced_wall = time.perf_counter() - t0
    problems = wl.check()
    spark.stop()
    rows = rollup(read_events(os.path.join(work, "events")),
                  tracer.walls, cores())
    metrics = {f"{layer}.{fld}": (rows[layer][fld], unit)
               for layer in LAYERS for fld, unit in LAYER_FIELDS.items()}
    f = wl.facts
    metrics["blocking.pairs"] = (f.get("pairs", 0), "count")
    metrics["train.em.iterations"] = (f.get("train.em.iterations", 0),
                                      "count")
    metrics["plans.bytes_written"] = (f.get("plans.bytes_written", 0),
                                      "bytes")
    metrics["plans.stage_wall_s"] = (f.get("plans.stage_wall_s", 0.0), "s")
    metrics["traced_wall_s"] = (traced_wall, "s")
    metrics["trace_overhead_s"] = (traced_wall - reference, "s")
    layer_sum = sum(tracer.walls.values())
    lines = [f"{k} = {v:.6g} {u}" for k, (v, u) in metrics.items()
             if v or not k.endswith(tuple(LAYER_FIELDS))]
    lines.append(f"layer rows sum to {layer_sum:.6g} s of {traced_wall:.6g} s"
                 f" traced wall ({layer_sum / traced_wall:.1%})")
    if abs(layer_sum - traced_wall) > 0.1 * traced_wall:
        problems.append("layer rows do not sum to within 10% of the traced "
                        "wall time")
    return m, problems, lines, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("donor_dedupe", "repo_files",
                             "incremental_match"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all-documents", action="store_true",
                    help="repo_files only: all 5,000 sf0.1 documents (x40 "
                         "variants) in place of a window of 250, checked "
                         "against the BENCH_r06 pair and cluster counts")
    args = ap.parse_args(argv)
    if args.all_documents and args.workload != "repo_files":
        ap.error("--all-documents applies to --workload repo_files only")

    root = os.getcwd()
    work = os.path.join(root, WORK_DIR)
    _import_program(root)
    _isolate(work)
    sys.path.insert(0, HERE)
    from report import result_line
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = _session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    kwargs = {"all_documents": True} if args.all_documents else {}
    wl = WORKLOADS[args.workload](spark, args.seed, work, **kwargs)
    try:
        if args.trace:
            setups = _timed_setups(wl, 1)
            m, problems, lines, metrics = _traced(wl, work, spark)
        else:
            setups = _timed_setups(wl, wl.setup_repeats)
            m, problems, lines, metrics = _untraced(wl, args.seconds, setups)
    finally:
        _shutdown(spark)
    attempted, failed = m.attempted, m.failed
    if m.errors:
        lines.append(f"errors: {m.errors}")
    if problems:
        failed = attempted
    lines.append(f"ops_failed_frac = {failed / attempted:.6g} ratio "
                 f"({failed} of {attempted})")
    print(f"# {args.workload} seed={args.seed} local[{cores()}] "
          f"setups_s={[round(s, 3) for s in setups]}")
    print(f"session_s = {session_s:.6g} s (Spark session start-up, once)")
    for line in lines + [f"CHECK FAILED: {p}" for p in problems]:
        print(line)
    print(result_line(not problems, attempted, failed, metrics), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
