"""Seeded, single-process input generators.

Everything here is a pure function of its seed: the same seed writes
byte-identical parquet.  The engine under test only ever sees the
files; the values behind them stay in memory so the checks can compute
the expected results without touching either jq tier.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# document kinds; every document is exactly one of them
CLEAN, DUP_KEY, ESCAPED_KEY, SCI_NUMBER, CORRUPT, NULL = (
    "clean", "dup_key", "escaped_key", "sci_number", "corrupt", "null",
)
KINDS = (CLEAN, DUP_KEY, ESCAPED_KEY, SCI_NUMBER, CORRUPT, NULL)

TIERS = ("gold", "silver", "bronze")
COLORS = ("red", "blue", "green", None, "missing")
WORDS = (
    "alpha beta gamma delta scan merge join window batch stream query "
    "value table row column hash sort filter group key"
).split()


@dataclass(frozen=True)
class CorpusSpec:
    """Knobs of a JSON corpus.  The shares are per-document
    probabilities of each non-clean kind; the measured shares are
    reported next to them."""

    n_docs: int
    text_words: int = 25  # sets the mean document size
    max_items: int = 4  # longest `.items` array
    depth: int = 3  # nesting depth of the `.deep` chain
    dup_share: float = 0.0  # a key repeated, last occurrence wins
    escaped_share: float = 0.0  # a key spelled with \\uXXXX escapes
    sci_share: float = 0.0  # a number in scientific notation
    corrupt_share: float = 0.0  # truncated text
    null_share: float = 0.0  # SQL NULL cell


@dataclass
class Corpus:
    """``docs[i]`` is the parsed value jq sees (None for NULL and
    corrupt cells), ``kinds[i]`` the document kind, ``texts[i]`` the
    cell written to parquet."""

    spec: CorpusSpec
    docs: list
    kinds: list
    texts: list

    def stats(self) -> dict:
        n = len(self.kinds)
        present = [t for t in self.texts if t is not None]
        out = {
            "n_docs": n,
            "mean_bytes": round(sum(len(t.encode()) for t in present) / max(len(present), 1), 1),
            "max_items": self.spec.max_items,
            "depth": self.spec.depth,
        }
        for k in KINDS[1:]:
            out[f"{k}_share"] = round(self.kinds.count(k) / n, 4)
        return out


def _deep(depth: int, leaf: int):
    v: object = {"v": leaf}
    for _ in range(depth - 1):
        v = {"d": v}
    return v


def _make_doc(rng: random.Random, i: int, spec: CorpusSpec) -> dict:
    doc = {
        "id": i,
        "user": {"name": f"user{rng.randrange(100000):05d}", "tier": rng.choice(TIERS)},
        "score": rng.randrange(100),
        "meta": {"cat": f"c{rng.randrange(8)}"},
        "tags": [f"t{rng.randrange(10)}" for _ in range(rng.randint(1, 4))],
        "items": [
            {
                "sku": f"s{rng.randrange(50):03d}",
                "qty": rng.randint(1, 5),
                "price": rng.randrange(100, 10000) / 100,
            }
            for _ in range(rng.randint(0, spec.max_items))
        ],
        "text": " ".join(rng.choice(WORDS) for _ in range(spec.text_words)),
        "deep": _deep(spec.depth, rng.randrange(10)),
    }
    color = rng.choice(COLORS)
    if color != "missing":
        doc["meta"]["color"] = color
    return doc


def _serialize(rng: random.Random, doc: dict, kind: str) -> str:
    text = json.dumps(doc)
    if kind == DUP_KEY:
        # decoys first: jq keeps the last occurrence of a key
        decoy_meta = json.dumps({"cat": "zz", "color": "decoy"})
        return f'{{"score": {rng.randrange(100, 200)}, "meta": {decoy_meta}, ' + text[1:]
    if kind == ESCAPED_KEY:
        return text.replace('"score": ', '"\\u0073core": ', 1).replace(
            '"cat": ', '"\\u0063at": ', 1
        )
    if kind == SCI_NUMBER:
        return text.replace(f'"score": {doc["score"]},', f'"score": {doc["score"] / 10}e1,', 1)
    if kind == CORRUPT:
        return text[: rng.randint(1, len(text) - 2)]
    return text


def make_corpus(seed: int, spec: CorpusSpec) -> Corpus:
    rng = random.Random(seed)
    cut = []
    acc = 0.0
    for share in (spec.dup_share, spec.escaped_share, spec.sci_share,
                  spec.corrupt_share, spec.null_share):
        acc += share
        cut.append(acc)
    docs, kinds, texts = [], [], []
    for i in range(spec.n_docs):
        doc = _make_doc(rng, i, spec)
        u = rng.random()
        kind = next((k for k, c in zip(KINDS[1:], cut) if u < c), CLEAN)
        if kind == SCI_NUMBER:
            doc["score"] = float(doc["score"])
        if kind == NULL:
            docs.append(None)
            texts.append(None)
        else:
            texts.append(_serialize(rng, doc, kind))
            docs.append(None if kind == CORRUPT else doc)
        kinds.append(kind)
    return Corpus(spec, docs, kinds, texts)


def write_corpus(corpus: Corpus, path: str, row_groups: int) -> int:
    """One parquet file with ``row_groups`` row groups (one group per
    file would pin the scan to one task); returns its size in bytes."""
    n = len(corpus.texts)
    table = pa.table({"doc": pa.array(corpus.texts, pa.string())})
    pq.write_table(table, path, row_group_size=max(1, -(-n // row_groups)))
    return os.path.getsize(path)

