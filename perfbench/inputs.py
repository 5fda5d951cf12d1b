"""Seeded benchmark inputs, generated from files in the repository only.

Everything here is pure Python/NumPy: the program under test receives
the generated documents (a parquet directory) and the alias dictionary
(a pandas frame) and nothing else.

Vocabulary comes from ``fixtures/segmenter_lexicon.npz`` (a jieba-style
word list with frequencies), restricted to words made only of CJK
ideographs. Entity surfaces are built from it:

* persons: a surname from ``SURNAMES`` plus two given-name characters,
* places: lexicon words ending in 市/省/县,
* organisations: lexicon words ending in 公司/大学/银行/医院/集团.

A sentence is a few frequency-weighted filler words with one or two
entity surfaces inserted in a context the NER model tags (``<PER>说``,
``在<LOC>``, a bare ``<ORG>``). Sentences join into text spans with
``。`` and the spans interleave with media spans.

The properties the workloads vary:

* distinct-sentence share — fresh sentences per slot (``build_distinct``)
  or draws from a small pool (``build_dup_skew``);
* hot-surface share — the share of documents whose first sentence
  carries the hot entity, a place;
* near-variant alias share — the share of entities whose dictionary
  entry is a near-variant of the surface (one character appended), so
  only the MinHash-LSH path can link them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SURNAMES = (
    "王李张刘陈杨黄赵吴周徐孙马朱胡郭何高林罗郑梁谢宋唐许韩冯邓曹彭曾"
    "萧田董袁潘于蒋蔡余杜叶程苏魏吕丁任沈姚卢姜崔钟谭陆汪范金石廖贾夏"
    "韦付方白邹孟熊秦邱江尹薛闫段雷侯龙史陶黎贺顾毛郝龚邵万钱严覃武戴"
    "莫孔向汤"
)
_CJK = re.compile(r"^[\u4e00-\u9fff]+$")
_ORG_SUFFIXES = ("公司", "大学", "银行", "医院", "集团")
_MEDIA_KINDS = ("image", "audio", "video")
MEDIA_SHARE = 0.15      # share of document spans that are media
POOL_ENTITIES = 3


class Sampler:
    """Weighted draws by inverse CDF (``rng.choice(p=...)`` rebuilds the
    CDF on every call, which dominates generation time)."""

    def __init__(self, items, weights):
        self.items = list(items)
        cdf = np.cumsum(np.asarray(weights, dtype=np.float64))
        self.cdf = cdf / cdf[-1]

    def draw(self, rng: np.random.Generator, n: int) -> list:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return [self.items[i] for i in np.minimum(idx, len(self.items) - 1)]


@dataclass(frozen=True)
class Vocab:
    words: Sampler          # CJK-only lexicon words, frequency-weighted
    chars: Sampler          # single-character words, frequency-weighted
    places: Tuple[str, ...]
    orgs: Tuple[str, ...]


def load_vocab(repo: Path) -> Vocab:
    lex = np.load(repo / "fixtures" / "segmenter_lexicon.npz")
    keys, freqs = lex["keys"], lex["freqs"]
    keep = np.fromiter((bool(_CJK.match(k)) for k in keys), bool, len(keys))
    words, f = keys[keep], freqs[keep]
    # filler words of 1-3 characters keep sentences short and let the
    # inserted entities dominate what the tagger finds
    lens = np.char.str_len(words)
    filler = lens <= 3
    single = lens == 1
    places = tuple(w for w in words if w[-1] in "市省县" and 2 <= len(w) <= 4)
    orgs = tuple(
        w for w in words if w.endswith(_ORG_SUFFIXES) and 3 <= len(w) <= 6
    )
    return Vocab(
        words=Sampler(words[filler].tolist(), f[filler]),
        chars=Sampler(words[single].tolist(), f[single]),
        places=places,
        orgs=orgs,
    )


def make_entities(vocab: Vocab, rng: np.random.Generator, n: int) -> List[Tuple[str, str]]:
    """``n`` distinct (surface, kind) pairs, kind in PER/LOC/ORG. All
    surfaces have at least three characters, so a one-character
    near-variant stays within the LSH Jaccard threshold. The first one,
    the hot entity, is a place: the tagger finds ``在<place>`` reliably,
    so how many documents the hot entity reaches does not hinge on
    whether one generated name happens to be tagged."""
    out: Dict[str, str] = {}
    while len(out) < n:
        k = rng.random() if out else 0.6
        if k < 0.5:
            given = vocab.chars.draw(rng, 2)
            s = SURNAMES[int(rng.integers(len(SURNAMES)))] + "".join(given)
            kind = "PER"
        elif k < 0.8:
            s, kind = vocab.places[int(rng.integers(len(vocab.places)))], "LOC"
        else:
            s, kind = vocab.orgs[int(rng.integers(len(vocab.orgs)))], "ORG"
        if len(s) >= 3:
            out.setdefault(s, kind)
    return list(out.items())


def _with_context(surface: str, kind: str) -> str:
    if kind == "PER":
        return surface + "说"
    if kind == "LOC":
        return "在" + surface
    return surface


def make_sentence(vocab: Vocab, rng: np.random.Generator, entities,
                  n_entities: int = 0) -> str:
    """Filler words plus ``n_entities`` (default: one or two) uniformly
    drawn entity surfaces in context."""
    parts = vocab.words.draw(rng, int(rng.integers(3, 7)))
    for _ in range(n_entities or 1 + int(rng.random() < 0.5)):
        s, kind = entities[int(rng.integers(len(entities)))]
        parts.insert(int(rng.integers(len(parts) + 1)), _with_context(s, kind))
    return "".join(parts)


@dataclass(frozen=True)
class BuildSpec:
    """Input properties of one build workload."""

    n_docs: int
    n_entities: int
    pool_size: int          # 0 = a fresh sentence for every slot
    hot_share: float        # share of documents carrying the hot entity
    variant_share: float    # share of entities aliased only by a variant
    alias_rows: int         # dictionary size, entity rows + filler rows
    sents_per_doc: float = 4.0


def _documents(vocab, rng, spec: BuildSpec, entities):
    """Interleaved documents as Python rows."""
    # pool sentences carry three entities each, so a few distinct texts
    # still hold many entity slots; with many more entities than slots
    # the triple count varies little from seed to seed
    pool = [make_sentence(vocab, rng, entities, POOL_ENTITIES)
            for _ in range(spec.pool_size)]
    hot_s, hot_kind = entities[0]
    hot_sents = [
        _with_context(hot_s, hot_kind) + "".join(vocab.words.draw(rng, 3))
        for _ in range(8)
    ]
    docs = []
    for d in range(spec.n_docs):
        doc_id = f"d{d:08d}"
        n_sent = 1 + int(rng.poisson(spec.sents_per_doc - 1))
        if pool:
            sents = [pool[int(i)] for i in rng.integers(len(pool), size=n_sent)]
        else:
            sents = [make_sentence(vocab, rng, entities) for _ in range(n_sent)]
        if rng.random() < spec.hot_share:
            sents[0] = hot_sents[int(rng.integers(len(hot_sents)))]
        spans, offset, i = [], 0, 0
        while i < len(sents):
            if rng.random() < MEDIA_SHARE:
                kind = _MEDIA_KINDS[int(rng.integers(3))]
                spans.append(
                    {"kind": kind, "text": "",
                     "media_ref": f"m://{doc_id}/{len(spans)}",
                     "offset": offset}
                )
                offset += 1
                continue
            k = 1 + int(rng.integers(2))
            text = "。".join(sents[i:i + k]) + "。"
            i += k
            spans.append(
                {"kind": "text", "text": text, "media_ref": "",
                 "offset": offset}
            )
            offset += len(text)
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


def _aliases(vocab, rng, spec: BuildSpec, entities) -> pd.DataFrame:
    """(surface_form, entity_id, prior): one row per entity — exact
    surface, or a one-character-appended near-variant for a
    ``variant_share`` of them (never the hot entity 0) — plus filler
    rows of unrelated person-like names up to ``alias_rows``."""
    rows = []
    taken = {s for s, _ in entities}
    for i, (s, _) in enumerate(entities):
        if i > 0 and rng.random() < spec.variant_share:
            s = s + vocab.chars.draw(rng, 1)[0]
        rows.append((s, f"e{i:06d}"))
        taken.add(s)
    n_fill = max(0, spec.alias_rows - len(rows))
    j = 0
    while j < n_fill:
        given = vocab.chars.draw(rng, 2 * n_fill)
        sur = rng.integers(len(SURNAMES), size=n_fill)
        for k, b in enumerate(sur):
            s = SURNAMES[b] + given[2 * k] + given[2 * k + 1]
            if s in taken:
                continue
            taken.add(s)
            rows.append((s, f"f{j:07d}"))
            j += 1
            if j >= n_fill:
                break
    df = pd.DataFrame(rows, columns=["surface_form", "entity_id"])
    df["prior"] = rng.uniform(0.2, 1.0, size=len(df))
    return df


SPAN_ARROW = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCS_ARROW = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_ARROW))])


def write_documents(docs: list, out_dir: Path, n_files: int) -> None:
    """Documents as ``n_files`` parquet files (one read partition each)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    per = -(-len(docs) // n_files)
    for f in range(n_files):
        chunk = docs[f * per:(f + 1) * per]
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=DOCS_ARROW),
                out_dir / f"part-{f:05d}.parquet",
            )


def write_aliases(aliases: pd.DataFrame, out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(aliases, preserve_index=False),
                   out_dir / "part-00000.parquet")


def generate(repo: Path, spec: BuildSpec, seed: int):
    """(documents rows, aliases frame) for one workload seed."""
    vocab = load_vocab(repo)
    rng = np.random.default_rng(seed)
    entities = make_entities(vocab, rng, spec.n_entities)
    docs = _documents(vocab, rng, spec, entities)
    return docs, _aliases(vocab, rng, spec, entities)
