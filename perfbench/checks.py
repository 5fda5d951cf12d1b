"""Output checks. Each ``check_*`` returns a list of failure messages
(empty = pass). Tables on disk are read with pyarrow, not Spark, so a
check neither shares code with the program nor adds Spark jobs.

* ``reference_chain`` — the operators ``run_pipeline`` chains, called
  directly with in-memory intermediates and no stage store; every
  build must produce its triple set.
* ``check_manifests`` — manifest row counts against the tables on disk
  (parquet footers), the triples manifest's per-partition counts
  against the ``part=`` directories, and the metrics table against the
  manifests.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path
from typing import FrozenSet, List, Tuple

import pyarrow.dataset as ds
import pyarrow.parquet as pq

STAGES = ("documents", "sentences", "mentions", "candidates", "links",
          "entities", "triples")
TRIPLE_COLS = ("subj", "pred", "obj", "doc_id", "part")

Triples = FrozenSet[Tuple]


def collect_triples(df) -> Triples:
    return frozenset(tuple(r) for r in df.select(*TRIPLE_COLS).collect())


def read_table(path: Path, columns=None) -> list:
    """Rows of a parquet table directory (hive partitions become columns)."""
    t = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=columns)
    return list(zip(*[t.column(c).to_pylist() for c in (columns or t.column_names)]))


def read_triples(tdir: Path) -> Triples:
    return frozenset(read_table(tdir, list(TRIPLE_COLS)))


def reference_chain(docs, aliases, cfg):
    """(mentions, candidates, triples) DataFrames from the operator chain
    of ``run_pipeline`` without its stage store. Intermediates read more
    than once are checkpointed in memory so the chain costs about one
    build."""
    from golden_horse_spark.operators.linking import generate_candidates
    from golden_horse_spark.operators.ner import (
        extract_mentions, extract_mentions_global_dedup, mentions_with_ids,
    )
    from golden_horse_spark.operators.sentence_seg import documents_to_sentences

    ner = extract_mentions_global_dedup if cfg.dedup_ner else extract_mentions
    sentences = documents_to_sentences(docs)
    mentions = mentions_with_ids(ner(sentences, cfg.weights_path)).localCheckpoint()
    cands = generate_candidates(mentions, aliases, fuzzy=cfg.fuzzy_linking).localCheckpoint()
    return mentions, cands, triples_from(mentions, cands, cfg.triple_parts)


def triples_from(mentions, cands, n_parts: int):
    """The chain's tail: score, canonicalize, materialize."""
    from golden_horse_spark.operators.canonicalize import canonical_entities
    from golden_horse_spark.operators.linking import score_links
    from golden_horse_spark.operators.triples import materialize_triples

    links = score_links(cands, mentions=mentions).localCheckpoint()
    return materialize_triples(mentions, links, canonical_entities(links),
                               n_parts=n_parts)


def _manifest(root: Path, stage: str) -> dict:
    return json.loads((root / f"{stage}.manifest.json").read_text())


def _footer_rows(stage_dir: Path) -> Counter:
    """Rows per immediate sub-directory name ('' for files at the top)."""
    rows: Counter = Counter()
    for f in stage_dir.rglob("*.parquet"):
        sub = f.parent.name if f.parent != stage_dir else ""
        rows[sub] += pq.ParquetFile(f).metadata.num_rows
    return rows


def check_manifests(root: Path) -> List[str]:
    errs = []
    mans = {}
    for stage in STAGES:
        try:
            man = mans[stage] = _manifest(root, stage)
        except (OSError, ValueError) as e:
            errs.append(f"{stage}: manifest unreadable ({e})")
            continue
        if man.get("status") != "complete":
            errs.append(f"{stage}: manifest status {man.get('status')!r}")
        rows = sum(_footer_rows(root / stage).values())
        if man.get("rows") != rows:
            errs.append(f"{stage}: manifest rows {man.get('rows')} != table rows {rows}")
        if sum((man.get("partitions") or {}).values()) != man.get("rows"):
            errs.append(f"{stage}: manifest partition counts do not sum to rows")
    if "triples" in mans:
        actual = {
            json.dumps(int(d.split("=", 1)[1])): n
            for d, n in _footer_rows(root / "triples").items() if d and n
        }
        if mans["triples"].get("partitions") != actual:
            errs.append("triples: manifest per-partition counts != part directories")
    m_rows: Counter = Counter()
    for stage, rows in read_table(root / "metrics", ["stage", "rows"]):
        m_rows[stage] += rows
    for stage, man in mans.items():
        if stage != "documents" and m_rows.get(stage) != man.get("rows"):
            errs.append(f"metrics: {stage} rows {m_rows.get(stage)} != manifest {man.get('rows')}")
    return errs


def store_mb(root: Path) -> float:
    """Bytes on disk of every stage output and manifest under ``root``."""
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file()) / (1024.0 * 1024.0)
