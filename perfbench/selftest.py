#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of each workload must pass
every check, and a deliberately corrupted output must be counted as a
failure.

    python3 perfbench/selftest.py

Exits 0 when all of that holds. Uses one Spark session on
``local[<cpus>]``; writes only under ``perfbench/_work``.
"""

from __future__ import annotations

import shutil
import sys
import time
from dataclasses import replace

import pyarrow.parquet as pq

import run

TINY = dict(n_docs=60, n_entities=40, alias_rows=400)


def _drop_one_row(tdir) -> None:
    """Rewrite the first triples part file without its first row."""
    f = sorted(tdir.glob("part=*/*.parquet"))[0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)


def _drop_lsh_pairs(cdir) -> None:
    """Rewrite the candidates table without its MinHash-LSH pairs (and
    drop the checksum files Spark would reject the new files by)."""
    for f in cdir.glob("*.parquet"):
        t = pq.read_table(f)
        keep = [not b.startswith("lsh:") for b in t.column("block_id").to_pylist()]
        pq.write_table(t.filter(keep), f)
        f.with_name(f".{f.name}.crc").unlink(missing_ok=True)


def _caught(b, what: str, needle: str) -> bool:
    """Re-check the builds; True when a new failure mentions ``needle``."""
    before = len(b.failures)
    b.check_builds()
    new = b.failures[before:]
    ok = any(needle in msg for msg in new)
    print(f"{'PASS' if ok else 'FAIL'} {b.w.name}: {what} "
          f"{'counted as a failure' if ok else 'NOT detected'}")
    for msg in new:
        print(f"     {msg}")
    return ok


def main() -> int:
    sys.path[:0] = [str(run.ROOT), str(run.HERE)]
    import workloads as wl

    run._adopt_orphans()
    shutil.rmtree(run.WORK, ignore_errors=True)
    cpus = len(run.os.sched_getaffinity(0))
    run._prepare_env(cpus)
    spark = run._session(traced=False)
    problems = []
    try:
        for name, w in wl.WORKLOADS.items():
            tiny = replace(w, spec=replace(w.spec, pool_size=min(w.spec.pool_size, 20), **TINY))
            t0 = time.perf_counter()
            work = run.WORK / name
            synth_s = wl.synthesize(run.ROOT, work, tiny.spec, 1, cpus)
            b = wl.Bench(spark, run.ROOT, work, tiny, seed=1, seconds=0,
                         traced=False, cpus=cpus)
            b.setup(0.0, synth_s)
            b.timed_builds()
            b.check_phase()
            b.query_phase()
            ok = not b.failures and b.attempted > 0
            print(f"{'PASS' if ok else 'FAIL'} {name}: {b.attempted} operations, "
                  f"{len(b.failures)} failed ({time.perf_counter() - t0:.1f} s)")
            problems += b.failures

            # corrupt the build's outputs: the build check must fail
            out = b.builds[-1]["dir"]
            if w.fuzzy:
                _drop_lsh_pairs(out / "candidates")
                if not _caught(b, "candidates without LSH pairs", "LSH found"):
                    problems.append(f"{name}: lost LSH recall not detected")
            _drop_one_row(out / "triples")
            if not _caught(b, "corrupted triples table", "triples:"):
                problems.append(f"{name}: corruption not detected")
    finally:
        run._stop(spark)
        run._reap_children()
        shutil.rmtree(run.WORK, ignore_errors=True)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
