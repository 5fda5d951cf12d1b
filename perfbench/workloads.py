"""The benchmark's workloads: set-up, the timed build loop, resume, the
query phase and their checks.

One run of a workload, in order:

1. set-up (``setup_s``): Spark session and, while it starts, seeded
   inputs written to disk; then the in-memory operator chain over the
   same inputs — the reference for the checks, which also warms the
   operators and the Python workers — and, beside it, a throw-away
   ``run_pipeline`` build of the first ``WARM_DOCS`` documents;
2. the timed loop, for ``--seconds`` and at least ``MIN_BUILDS`` times:
   a full ``run_pipeline`` build into a fresh directory (``build_s``),
   then a resume of a copy of it after the copy's triples manifest and
   half of its ``triples.parts`` completion records are deleted
   (``resume_s``);
3. checks of every build and resume and, beside them, the untimed
   ``queries.WARMUP`` queries;
4. the query phase: the ``queries.MIX`` closed-loop queries from one
   client over the last build's triples table, and in traced runs one
   path query after them, each checked against DuckDB.

With ``--trace 1`` each build, resume and query, and the stage calls
inside them, run inside spans; the time spent in the tracing code is
measured as the tracing overhead.
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from pathlib import Path
from typing import Dict, List, Tuple

import numpy as np

import checks
import inputs
import queries
import spans

MIN_BUILDS = 1
WARM_DOCS = 16       # documents of the throw-away build in set-up
WARM_ALIASES = 300   # its alias rows when it links fuzzily
TRIPLE_PARTS = 8
# run_pipeline's fuzzy linking: MinHash-LSH keeps pairs STRICTLY below
# this char-bigram Jaccard distance
LSH_MAX_DISTANCE = 0.5
# Three hash tables find a pair of Jaccard similarity J with probability
# 1 - (1 - J)^3: 0.96 for the near-variants (J = 2/3), 0.875 at the
# threshold. Thirty seeds of a 720-document build found 88-100% of
# their 50-89 pairs (0-8 misses, 2.8 on average); twenty seeds of the
# 480-document build found 89-100% of 37-57. Below 0.8 takes 8-18 misses.
LSH_RECALL_FLOOR = 0.8


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    spec: inputs.BuildSpec
    fuzzy: bool


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "build_distinct",
            "nearly every sentence text is distinct and linking is exact, so "
            "the NER kernel runs on almost every row; then closed-loop queries "
            "read the built table",
            inputs.BuildSpec(n_docs=1200, n_entities=4000, pool_size=0,
                             hot_share=0.0, variant_share=0.0, alias_rows=4000),
            fuzzy=False,
        ),
        Workload(
            "build_dup_skew",
            "a 120-sentence pool collapses NER to under 130 texts and a 1e5-row "
            "alias dictionary with near-variant-only entities moves time to "
            "MinHash-LSH blocking; then closed-loop queries read the table",
            inputs.BuildSpec(n_docs=480, n_entities=3000, pool_size=120,
                             hot_share=0.3, variant_share=0.4, alias_rows=100_000,
                             sents_per_doc=6.0),
            fuzzy=True,
        ),
    )
}

# StageWriter stage -> span name
STAGE_SPANS = {
    "documents": "pipeline.io",
    "sentences": "sentence_seg",
    "mentions": "ner",
    "candidates": "linking.candidates",
    "links": "linking.score",
    "entities": "canonicalize",
    "triples": "triples",
}
CANDIDATE_KEY = ("mention_id", "entity_id", "block_id")
MENTION_COLS = ("mention_id", "doc_id", "span_idx", "sent_idx", "start", "end",
                "surface", "etype", "ntype")
BUILD_SPANS = ("sentence_seg", "ner", "linking.candidates", "linking.score",
               "canonicalize", "triples", "pipeline.io")


def instrument(tracer: spans.Tracer) -> None:
    """Wrap the stage store's entry points in spans (traced runs only).

    Stages are lazy, so a stage's time is spent inside its
    ``load_or_compute`` call. Manifest writes and resume bookkeeping
    nest as ``pipeline.io``; the metrics-table write after the triples
    stage runs in a ``pipeline.io`` span the build closes when
    ``run_pipeline`` returns."""
    from golden_horse_spark.plans.pipeline import StageWriter

    load_or_compute = StageWriter.load_or_compute
    finish_manifest = StageWriter._finish_manifest
    done_parts = StageWriter.done_parts

    def traced_load(self, stage, fingerprint, compute, partition_by=None):
        with tracer.span(STAGE_SPANS.get(stage, "pipeline.io")) as sp:
            df = load_or_compute(self, stage, fingerprint, compute, partition_by)
            if sp is not None:
                t0 = time.perf_counter()
                sp.rows_out = int((self.manifest(stage) or {}).get("rows", 0))
                tracer.charge(t0)
        if stage == "triples":
            tracer.open("pipeline.io")  # closed by Bench.run_build
        return df

    def traced_finish(self, *args, **kwargs):
        with tracer.span("pipeline.io"):
            return finish_manifest(self, *args, **kwargs)

    def traced_done(self, *args, **kwargs):
        with tracer.span("pipeline.io"):
            return done_parts(self, *args, **kwargs)

    StageWriter.load_or_compute = traced_load
    StageWriter._finish_manifest = traced_finish
    StageWriter.done_parts = traced_done


def synthesize(repo: Path, work: Path, spec: inputs.BuildSpec, seed: int,
               cpus: int) -> float:
    """Write the seeded inputs under ``work``; returns the seconds taken.
    Pure Python, so it can run while the Spark session starts."""
    t0 = time.perf_counter()
    docs, aliases = inputs.generate(repo, spec, seed)
    inputs.write_documents(docs, work / "docs", 2 * cpus)
    inputs.write_aliases(aliases, work / "aliases")
    return time.perf_counter() - t0


class Bench:
    def __init__(self, spark, repo: Path, work: Path, workload: Workload,
                 seed: int, seconds: float, traced: bool, cpus: int):
        self.spark = spark
        self.repo = repo
        self.work = work
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cpus = cpus
        self.weights = str(repo / "fixtures" / "ner_weights.npz")
        self.tracer = spans.Tracer(spark, enabled=False)
        self.attempted = 0
        self.failures: List[str] = []
        self.m: Dict[str, float] = {}
        self.builds: List[dict] = []
        self.queries_done: List[tuple] = []
        self.rss_mb = 0.0
        self.path_ms = 0.0
        self.ref = self.ref_mentions = self.ref_exact = self.ref_mentions_df = None
        self.con = self.rng = self.triples_df = None
        self.plan: List[queries.Query] = []

    # ------------------------------------------------------------ helpers

    def fail(self, what: str, check) -> None:
        """Count one operation; ``check()`` returns its failure messages
        (an exception in it is a failure too)."""
        self.attempted += 1
        try:
            errs = check()
        except Exception as e:  # noqa: BLE001 - any error fails the operation
            errs = [f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"]
        if errs:
            self.failures.append(f"{what}: {'; '.join(errs)}")

    def cfg(self, out: Path):
        from golden_horse_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(
            output_dir=str(out),
            weights_path=self.weights,
            alias_limit=None,
            fuzzy_linking=self.w.fuzzy,
            triple_parts=TRIPLE_PARTS,
        )

    def docs(self):
        return self.spark.read.parquet(str(self.work / "docs"))

    def aliases(self):
        return self.spark.read.parquet(str(self.work / "aliases"))

    def run_build(self, out: Path):
        from golden_horse_spark.plans.pipeline import run_pipeline

        with self.tracer.span("pipeline.io"):  # input listing and schema reads
            docs, aliases = self.docs(), self.aliases()
        run_pipeline(self.spark, docs, self.cfg(out), aliases=aliases)
        tail = self.tracer.innermost()
        if tail is not None and tail.name == "pipeline.io":
            self.tracer.close()

    # ------------------------------------------------------------- set-up

    def setup(self, session_s: float, synth_s: float) -> None:
        """The set-up after the session start and :func:`synthesize`: the
        reference chain and, beside it, the throw-away build."""
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            warm = pool.submit(self._warm_build)
            self._reference()
            warm.result()
        self.m.update({
            "setup.session_s": session_s,
            "setup.synth_s": synth_s,
            "setup.warm_s": time.perf_counter() - t0,
        })

    def _reference(self) -> None:
        """The in-memory operator chain with exact linking: the reference
        for the checks, and a warm-up of the operators and Python workers."""
        ref_cfg = replace(self.cfg(self.work / "unused"), fuzzy_linking=False)
        mentions, cands, triples = checks.reference_chain(
            self.docs(), self.aliases(), ref_cfg)
        self.ref_mentions_df = mentions
        self.ref_mentions = frozenset(
            tuple(r) for r in mentions.select(*MENTION_COLS).collect())
        self.ref_exact = frozenset(
            tuple(r) for r in cands.select(*CANDIDATE_KEY).collect())
        self.ref = checks.collect_triples(triples)

    def _warm_build(self) -> None:
        """A throw-away ``run_pipeline`` build of the first ``WARM_DOCS``
        documents. It warms what the reference chain does not run: the
        stage store's writes, reads and manifests, the partitioned dynamic
        overwrite and the build's own query plans. With fuzzy linking it
        links against the first ``WARM_ALIASES`` alias rows, which warms
        MinHash-LSH without a pass over the whole dictionary."""
        from golden_horse_spark.plans.pipeline import run_pipeline

        aliases = self.aliases()
        if self.w.fuzzy:
            aliases = aliases.limit(WARM_ALIASES)
        run_pipeline(self.spark, self.docs().limit(WARM_DOCS),
                     self.cfg(self.work / "warm_build"), aliases=aliases)

    # ---------------------------------------------------------- timed loop

    def timed_builds(self) -> None:
        """Builds, each followed by a resume of a copy of it. The peak RSS
        is sampled from the first build to the last resume."""
        rss = spans.PeakRss(self.spark)
        rss.start()
        try:
            start = time.perf_counter()
            i = 0
            while i < MIN_BUILDS or time.perf_counter() - start < self.seconds:
                out = self.work / "builds" / f"b{i}"
                rec = {"dir": out, "resume_dir": out.with_name(f"{out.name}.resume")}
                rec["build_op"], rec["build_s"] = self._timed_run(out)
                rec["store_mb"] = checks.store_mb(out)
                rdir = rec["resume_dir"]
                shutil.copytree(out, rdir)
                _drop_for_resume(rdir)
                before = _part_files(rdir / "triples")
                _, rec["resume_s"] = self._timed_run(rdir)
                after = _part_files(rdir / "triples")
                kept = sum(1 for p, files in before.items() if after.get(p) == files)
                rec["skip_share"] = kept / max(1, len(before))
                self.builds.append(rec)
                i += 1
        finally:
            self.rss_mb = rss.stop()

    def _timed_run(self, out: Path) -> Tuple[int, float]:
        """(operation id, seconds) of one ``run_pipeline`` call into ``out``."""
        self.tracer.enabled = self.traced
        self.tracer.next_op()
        t0 = time.perf_counter()
        with self.tracer.span("build"):
            self.run_build(out)
        secs = time.perf_counter() - t0
        self.tracer.enabled = False
        return self.tracer.op, secs

    # -------------------------------------------------------------- checks

    def check_builds(self) -> None:
        for rec in self.builds:
            self.fail(f"build {rec['dir'].name}", lambda: self._check_build(rec))
            self.fail(f"resume {rec['dir'].name}", lambda: self._check_resume(rec))

    def _check_build(self, rec: dict) -> List[str]:
        rec["triples"] = checks.read_triples(rec["dir"] / "triples")
        return checks.check_manifests(rec["dir"]) + self._check_triples(rec)

    def _check_resume(self, rec: dict) -> List[str]:
        rdir = rec["resume_dir"]
        resumed = checks.read_triples(rdir / "triples")
        return checks.check_manifests(rdir) + ([] if resumed == rec["triples"] else [
            f"resumed table has {len(resumed ^ rec['triples'])} rows unlike the full build"])

    def _check_triples(self, rec: dict) -> List[str]:
        """Mentions and exact candidates equal the reference chain's.
        With exact linking the triples must too. MinHash-LSH blocking is
        approximate, so with fuzzy linking every LSH candidate must be
        valid, the build must find most of the pairs an exact search
        finds, and the triples must be what the chain's tail makes from
        the build's own candidates."""
        out, got = rec["dir"], rec["triples"]
        errs = []
        mentions = frozenset(checks.read_table(out / "mentions", list(MENTION_COLS)))
        if mentions != self.ref_mentions:
            errs.append(f"{len(mentions ^ self.ref_mentions)} mentions differ "
                        "from the in-memory chain")
        cands = checks.read_table(out / "candidates", list(CANDIDATE_KEY))
        exact = frozenset(c for c in cands if c[2].startswith("exact:"))
        if exact != self.ref_exact:
            errs.append(f"{len(exact ^ self.ref_exact)} exact candidates differ "
                        "from the in-memory chain")
        if not self.w.fuzzy:
            want = self.ref
        else:
            lsh_errs, rec["lsh_recall"], rec["lsh_pairs"] = _check_lsh(out, self.work / "aliases")
            errs += lsh_errs
            want = checks.collect_triples(checks.triples_from(
                self.ref_mentions_df, self.spark.read.parquet(str(out / "candidates")),
                TRIPLE_PARTS))
        if got != want:
            errs.append(f"{len(got ^ want)} triples differ from the in-memory chain")
        return errs

    # ------------------------------------------------------------- queries

    def check_phase(self) -> None:
        """The checks of every build and resume and, beside them in a
        second thread, the query phase's untimed warm-up."""
        with ThreadPoolExecutor(1) as pool:
            warm = pool.submit(self._prepare_queries)
            self.check_builds()
            warm.result()

    def _prepare_queries(self) -> None:
        """The DuckDB twin of the last build's triples table, the seeded
        query plan and the ``queries.WARMUP`` queries."""
        tdir = self.builds[-1]["dir"] / "triples"
        self.con = queries.load_twin(tdir)
        self.rng = np.random.default_rng(self.seed + 1)
        self.triples_df = self.spark.read.parquet(str(tdir))
        for q in queries.plan_queries(self.con, self.rng, queries.WARMUP):
            queries.compile_query(q, self.triples_df).collect()
        self.plan = queries.plan_queries(self.con, self.rng, queries.MIX)

    def query_phase(self) -> Dict[str, float]:
        con, rng, triples = self.con, self.rng, self.triples_df
        lat, comp, exe = [], [], []
        self.tracer.enabled = self.traced
        t_start = time.perf_counter()
        for q in self.plan:
            self.tracer.next_op()
            t0 = time.perf_counter()
            with self.tracer.span("sparql") as sp:
                df = queries.compile_query(q, triples)
                t1 = time.perf_counter()
                rows = df.collect()
                if sp is not None:
                    sp.rows_out = len(rows)
            t2 = time.perf_counter()
            lat.append(t2 - t0)
            comp.append(t1 - t0)
            exe.append(t2 - t1)
            self.queries_done.append((self.tracer.op, q, rows))
        wall = time.perf_counter() - t_start
        self.tracer.enabled = False
        if self.traced:
            (q,) = queries.plan_queries(con, rng, ("path",))
            t0 = time.perf_counter()
            rows = queries.compile_query(q, triples).collect()
            self.path_ms = (time.perf_counter() - t0) * 1000.0
            self.fail(f"query path({q.param})", lambda: queries.check(con, q, rows))
        for _, q, rows in self.queries_done:
            self.fail(f"query {q.shape}({q.param})", lambda: queries.check(con, q, rows))
        con.close()
        return {"lat": lat, "compile": comp, "exec": exe, "wall": wall}


def _part_files(tdir: Path) -> Dict[str, tuple]:
    return {
        p.name: tuple(sorted((f.name, f.stat().st_mtime_ns) for f in p.iterdir()))
        for p in sorted(tdir.glob("part=*"))
    }


def _drop_for_resume(out: Path) -> None:
    """Delete the triples manifest and every other completion record."""
    (out / "triples.manifest.json").unlink()
    for f in sorted((out / "triples.parts").glob("*.json"))[::2]:
        f.unlink()


def _bigrams(s: str) -> frozenset:
    """The program's char-bigram set of a string (the string itself when
    it is shorter than two characters)."""
    return frozenset(s[i:i + 2] for i in range(len(s) - 1)) if len(s) >= 2 else frozenset((s,))


def _check_lsh(out: Path, alias_dir: Path) -> Tuple[List[str], float, int]:
    """(failures, recall, pairs within the distance) of the MinHash-LSH
    candidates, found without the build's own blocking.

    Validity: every LSH pair joins a mention with no exact candidate to
    an alias whose char-bigram Jaccard distance from the surface is
    below ``LSH_MAX_DISTANCE``. Recall: a bigram inverted index over the
    alias dictionary gives every (surface, entity) pair within that
    distance for the surfaces with no exact candidate; the build must
    find at least ``LSH_RECALL_FLOOR`` of them."""
    surface = dict(checks.read_table(out / "mentions", ["mention_id", "surface"]))
    rows = checks.read_table(out / "candidates", ["mention_id", "entity_id", "block_id"])
    exact = {surface[m] for m, _, b in rows if b.startswith("exact:")}
    uncovered = set(surface.values()) - exact

    def dist(x, y):
        return 1.0 - len(x & y) / len(x | y)

    bad, found = 0, set()
    for m, e, b in rows:
        if b.startswith("lsh:"):
            s = surface[m]
            if s in exact or dist(_bigrams(s), _bigrams(b[4:])) >= LSH_MAX_DISTANCE:
                bad += 1
            found.add((s, e))
    index: Dict[str, List[int]] = {}
    aliases = checks.read_table(alias_dir, ["surface_form", "entity_id"])
    grams = [_bigrams(a) for a, _ in aliases]
    for i, g in enumerate(grams):
        for x in g:
            index.setdefault(x, []).append(i)
    want = set()
    for s in uncovered:
        g = _bigrams(s)
        for i in {i for x in g for i in index.get(x, ())}:
            if dist(g, grams[i]) < LSH_MAX_DISTANCE:
                want.add((s, aliases[i][1]))
    recall = len(want & found) / len(want) if want else 1.0
    errs = [f"{bad} invalid LSH candidates"] if bad else []
    if recall < LSH_RECALL_FLOOR:
        errs.append(f"LSH found {len(want & found)} of {len(want)} alias pairs "
                    f"within Jaccard distance {LSH_MAX_DISTANCE} "
                    f"(recall {recall:.3f} < {LSH_RECALL_FLOOR})")
    return errs, recall, len(want)
