#!/usr/bin/env python3
"""KG-construction benchmark: build, resume and query workloads.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload build_distinct --seed 1 --seconds 10 --trace 0

Builds run through ``plans.pipeline.run_pipeline`` and its ``StageWriter``
stage store; queries through ``operators.sparql``. Inputs are generated
from ``--seed`` (see ``inputs.py``); the run checks every output (see
``checks.py`` and ``queries.py``).

Output: one line of run details (query tail percentile and sample count,
error rate, any failures), then, as the last line, the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. Everything the run writes goes under ``perfbench/_work``;
the Spark session runs on ``local[<cpus>]`` and is stopped, with its
worker processes, before exit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
PR_SET_CHILD_SUBREAPER = 36


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _driver_mem() -> str:
    """A quarter of physical memory, 1-4 GiB."""
    try:
        kib = int(next(l for l in Path("/proc/meminfo").read_text().splitlines()
                       if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        kib = 8 << 20
    return f"{max(1, min(4, kib // (4 << 20)))}g"


def _prepare_env(cpus: int) -> None:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None


def _session(traced: bool):
    from golden_horse_spark.config import get_spark

    conf = {
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job, stage and task of the run for span attribution
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _adopt_orphans() -> None:
    """Make this process the subreaper of every process under it: one
    whose parent exits (the Python worker daemon and its workers, once
    the JVM has stopped) is re-parented here, not to init, so
    :func:`_reap_children` can end and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap_children(grace_s: float = 10.0) -> None:
    """Wait until no child of this process is left, reaping each; kill
    those still running after ``grace_s``."""
    import spans

    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = spans.children(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit. The Python workers end
    with it; :func:`_reap_children` waits for them."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(lat_s):
    """(value ms, percentile): the highest percentile with at least ten
    samples above it."""
    xs = sorted(lat_s)
    n = len(xs)
    k = max(0, n - 11)
    return xs[k] * 1000.0, 100.0 * (k + 1) / n


def end_to_end(b, q, setup_s: float):
    builds = b.builds
    tail_ms, tail_pct = _tail(q["lat"])
    m = {
        "build_s": (_median([r["build_s"] for r in builds]), "s"),
        "docs_per_s": (_median([b.w.spec.n_docs / r["build_s"] for r in builds]), "1/s"),
        "triples_per_s": (_median([len(r["triples"]) / r["build_s"] for r in builds]), "1/s"),
        "resume_s": (_median([r["resume_s"] for r in builds]), "s"),
        "store_mb": (_median([r["store_mb"] for r in builds]), "MiB"),
        "query_p50_ms": (_median(q["lat"]) * 1000.0, "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        "queries_per_s": (len(q["lat"]) / q["wall"], "1/s"),
        "setup_s": (setup_s, "s"),
    }
    shapes = {}
    for (_, qq, _), t in zip(b.queries_done, q["lat"]):
        shapes.setdefault(qq.shape, []).append(t * 1000.0)
    last = b.builds[-1]
    return m, {
        "lsh_recall": [r.get("lsh_recall") for r in builds],
        "lsh_pairs": [r.get("lsh_pairs") for r in builds],
        "query_tail_percentile": tail_pct,
        "query_samples": len(q["lat"]),
        "query_ms_by_shape": {k: round(_median(v), 1) for k, v in shapes.items()},
        "build_s_each": [round(r["build_s"], 3) for r in builds],
        "resume_s_each": [round(r["resume_s"], 3) for r in builds],
        "triples": len(last["triples"]),
        "triples_files": len(list((last["dir"] / "triples").glob("part=*/*.parquet"))),
    }


def per_layer(b, q):
    import spans
    import workloads as wl

    spark, tr = b.spark, b.tracer
    counters = spans.read_counters(spark)
    build_ops = {r["build_op"] for r in b.builds}
    query_ops = {op for op, _, _ in b.queries_done}
    m = spans.span_metrics(tr, counters, wl.BUILD_SPANS, build_ops)
    m.update(spans.span_metrics(tr, counters, ("sparql",), query_ops))
    roots = [sp for sp in tr.spans if sp.name == "build" and sp.op in build_ops]
    # the traced counterpart of build_s: their difference across runs of
    # one workload is the tracing overhead as the user sees it
    m["trace.build_s"] = _median([r["build_s"] for r in b.builds])
    m["trace.overhead_s"] = _median([tr.overhead.get(op, 0.0) for op in build_ops])
    # time inside the build span but in no layer span
    m["trace.unattributed_s"] = _median([sp.self_s for sp in roots])

    import checks

    last = b.builds[-1]["dir"]
    texts = [t for (t,) in checks.read_table(last / "sentences", ["text"])]
    m["ner.kernel_share"] = len(set(texts)) / max(1, len(texts))
    cands = checks.read_table(last / "candidates", ["mention_id", "block_id"])
    n_men = len(checks.read_table(last / "mentions", ["mention_id"]))
    exact = {mid for mid, blk in cands if blk.startswith("exact:")}
    m["linking.exact_share"] = len(exact) / max(1, n_men)
    n_links = len(checks.read_table(last / "links", ["mention_id"]))
    m["linking.pairs_per_link"] = len(cands) / max(1, n_links)
    m["pipeline.resume_skip_share"] = _median([r["skip_share"] for r in b.builds])

    scanned = sum(spans.input_rows(tr, counters, op) for op, _, _ in b.queries_done)
    results = sum(max(1, len(rows)) for _, _, rows in b.queries_done)
    m["sparql.rows_scanned_per_result"] = scanned / results
    m["sparql.compile_ms"] = _median(q["compile"]) * 1000.0
    m["sparql.exec_ms"] = _median(q["exec"]) * 1000.0
    m["sparql.path_ms"] = b.path_ms
    m["peak_rss_mb"] = b.rss_mb
    m.update({k: b.m[k] for k in ("setup.session_s", "setup.synth_s", "setup.warm_s")})
    return {k: (float(v), _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_mb"):
        return "MiB"
    if field in ("jobs", "tasks", "failed_tasks", "rows_out"):
        return "count"
    return "ratio"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    weights = ROOT / "fixtures" / "ner_weights.npz"
    try:
        import golden_horse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not weights.is_file():
        print(f"perfbench: missing model weights {weights}", file=sys.stderr)
        return 2
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    _adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, wl.WORKLOADS[args.workload])
    finally:
        _reap_children()


def _run(args, w) -> int:
    import workloads as wl

    shutil.rmtree(WORK, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    _prepare_env(cpus)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        # the inputs are generated while the JVM starts
        synth = pool.submit(wl.synthesize, ROOT, WORK, w.spec, args.seed, cpus)
        spark = _session(bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            synth_s = synth.result()
        except BaseException:
            _stop(spark)
            raise
    try:
        b = wl.Bench(spark, ROOT, WORK, w, args.seed, args.seconds, bool(args.trace), cpus)
        if args.trace:
            wl.instrument(b.tracer)
        b.setup(session_s, synth_s)
        phases = {"setup": time.perf_counter() - t0}
        for name, step in (("builds", b.timed_builds), ("checks", b.check_phase),
                           ("queries", b.query_phase)):
            t1 = time.perf_counter()
            q = step()
            phases[name] = time.perf_counter() - t1
        t1 = time.perf_counter()
        if args.trace:
            metrics, details = per_layer(b, q), {}
        else:
            metrics, details = end_to_end(b, q, phases["setup"])
        phases["report"] = time.perf_counter() - t1
    finally:
        t1 = time.perf_counter()
        _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    phases["stop"] = time.perf_counter() - t1
    details["phases_s"] = {k: round(v, 2) for k, v in phases.items()}

    failed = len(b.failures)
    details.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "error_rate": failed / b.attempted,
        "failures": b.failures[:20],
    })
    print(json.dumps(details))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": b.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
