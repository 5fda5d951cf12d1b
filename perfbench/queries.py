"""Graph-query traffic over a triples table in the pipeline's on-disk
layout (parquet partitioned by ``part``), each query checked against a
DuckDB twin over the same files.

Five query shapes. The timed traffic, ``MIX``, sends the four cheap
ones in a fixed order so every run has the same mix: lookups dominate,
as in interactive traffic. The path query takes ~3 s, as long as ten
lookups, so it runs, timed and checked, only in traced runs
(``sparql.path_ms``). The seed picks the parameters. ``WARMUP``
untimed queries go first: query latency falls over the first queries
of a process as the JVM compiles the query path.

* ``doc``       — point lookup: entities mentioned in one document;
* ``entity``    — documents of one entity (Zipf-popular subjects);
* ``cooc_type`` — two patterns: co-occurring entities and their types;
* ``path``      — bounded ``co_occurs_with+`` reachability (≤ 2 hops);
* ``topk``      — ``sparql_agg`` top-10 entities of one type by documents.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import List, Tuple

import numpy as np

PATH_HOPS = 2
WARMUP = ("doc", "entity", "cooc_type", "topk")
_CYCLE = ("doc", "entity", "doc", "entity", "cooc_type",
          "doc", "entity", "doc", "entity", "topk")
MIX = _CYCLE * 3


@dataclass(frozen=True)
class Query:
    shape: str
    param: str
    ordered: bool    # compare row order too (ORDER BY ... LIMIT)


def load_twin(triples_dir: Path):
    import duckdb

    con = duckdb.connect(":memory:")
    con.execute("SET threads TO 1")
    con.execute(
        "CREATE TABLE t AS SELECT subj, pred, obj, doc_id FROM read_parquet(?, "
        "hive_partitioning = true)",
        [str(triples_dir / "**" / "*.parquet")],
    )
    return con


def plan_queries(con, rng: np.random.Generator, shapes) -> List[Query]:
    """One query per entry of ``shapes``, parameters drawn from
    the table: documents uniformly, subjects Zipf by popularity among
    those with co-occurrence edges, types uniformly."""
    docs = [r[0] for r in con.execute(
        "SELECT DISTINCT obj FROM t WHERE pred = 'mentioned_in' ORDER BY obj").fetchall()]
    ents = [r[0] for r in con.execute(
        "SELECT subj FROM t WHERE pred = 'mentioned_in' GROUP BY subj "
        "ORDER BY count(*) DESC, subj").fetchall()]
    linked = [r[0] for r in con.execute(
        "SELECT subj FROM t WHERE pred = 'co_occurs_with' GROUP BY subj "
        "ORDER BY count(*) DESC, subj").fetchall()] or ents
    types = [r[0] for r in con.execute(
        "SELECT DISTINCT obj FROM t WHERE pred = 'has_type' ORDER BY obj").fetchall()]

    def zipf(items):
        w = 1.0 / np.arange(1, len(items) + 1)
        return items[int(rng.choice(len(items), p=w / w.sum()))]

    out = []
    for shape in shapes:
        if shape == "doc":
            q = Query(shape, docs[int(rng.integers(len(docs)))], False)
        elif shape == "entity":
            q = Query(shape, zipf(ents), False)
        elif shape in ("cooc_type", "path"):
            q = Query(shape, zipf(linked), False)
        else:
            q = Query(shape, types[int(rng.integers(len(types)))], True)
        out.append(q)
    return out


def compile_query(q: Query, triples):
    """The program's lazy result frame for ``q`` (any eager work the
    operator does while compiling happens here)."""
    from golden_horse_spark.operators.sparql import OneOrMore, sparql_agg, sparql_select

    if q.shape == "doc":
        return sparql_select(triples, [("?e", "mentioned_in", q.param)])
    if q.shape == "entity":
        return sparql_select(triples, [(q.param, "mentioned_in", "?d")])
    if q.shape == "cooc_type":
        return sparql_select(
            triples,
            [(q.param, "co_occurs_with", "?o"), ("?o", "has_type", "?t")],
            select=["?o", "?t"],
        )
    if q.shape == "path":
        return sparql_select(
            triples, [(q.param, OneOrMore("co_occurs_with"), "?o")],
            max_path_hops=PATH_HOPS,
        )
    return sparql_agg(
        triples,
        [("?e", "mentioned_in", "?d"), ("?e", "has_type", q.param)],
        {"n": "count(*)"},
        group_by=["?e"],
        order_by=["-n", "e"],
        limit=10,
    )


_TWIN_SQL = {
    "doc": "SELECT DISTINCT subj FROM t WHERE pred = 'mentioned_in' AND obj = $p",
    "entity": "SELECT DISTINCT obj FROM t WHERE pred = 'mentioned_in' AND subj = $p",
    "cooc_type": (
        "SELECT DISTINCT c.obj, ty.obj FROM t c JOIN t ty ON ty.subj = c.obj "
        "WHERE c.pred = 'co_occurs_with' AND c.subj = $p AND ty.pred = 'has_type'"
    ),
    "path": (
        "WITH RECURSIVE r(node, depth) AS ("
        " SELECT obj, 1 FROM t WHERE pred = 'co_occurs_with' AND subj = $p"
        " UNION"
        " SELECT e.obj, r.depth + 1 FROM r JOIN t e"
        "  ON e.subj = r.node AND e.pred = 'co_occurs_with'"
        f" WHERE r.depth < {PATH_HOPS})"
        " SELECT DISTINCT node FROM r"
    ),
    "topk": (
        "SELECT m.subj AS e, count(*) AS n FROM t m JOIN t ty"
        " ON ty.subj = m.subj AND ty.pred = 'has_type' AND ty.obj = $p"
        " WHERE m.pred = 'mentioned_in' GROUP BY m.subj ORDER BY n DESC, e LIMIT 10"
    ),
}


def _rows(rows, q: Query) -> List[Tuple]:
    out = [tuple(r) for r in rows]
    return out if q.ordered else sorted(out)


def check(con, q: Query, rows) -> List[str]:
    """Failure messages for the program's result ``rows`` of ``q``
    against the DuckDB twin."""
    got = _rows(rows, q)
    want = _rows(con.execute(_TWIN_SQL[q.shape], {"p": q.param}).fetchall(), q)
    return [] if got == want else [f"{len(got)} rows != twin {len(want)} rows"]
