"""Seeded inputs: the store corpus and each workload's op sequence.

The store corpus is fixed (``STORE_SEED``) so the store can be built once
per checkout and copied fresh into every run; the op sequence comes from
the run's ``--seed``. Every text is made of lowercase words and paragraph
breaks only, and every paragraph fits one chunk, so the chunker cuts a
text at its paragraph breaks. ``substitute_words`` keeps every word's
length, so a rewritten text has the same chunk count as the original and
the mixed workload's updates never change the table sizes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Any, Iterator

STORE_SEED = 20_261_017
STORE_VERSION = 1  # bump when the corpus definition changes

APPS = ("acme", "globex", "initech")
# (parent, child) per app: the child folder is nested under the parent
FOLDERS = {app: (f"/{app}/docs", f"/{app}/docs/archive") for app in APPS}
GROUPS = tuple((app, folder) for app in APPS for folder in FOLDERS[app])
DOCS_PER_GROUP = 1_250
N_DOCS = DOCS_PER_GROUP * len(GROUPS)

CATEGORIES = ("report", "memo", "spec", "faq", "ticket")
YEARS = (2015, 2024)
N_TOPICS = 12
WORD_LENGTHS = tuple(range(3, 10))
WORDS_PER_LENGTH = 24
CHUNK_SIZE = 512  # MorphikSpark defaults, restated for the corpus bounds
CHUNK_OVERLAP = 64
PARAGRAPH_CHARS = (200, 470)  # < CHUNK_SIZE: a paragraph never splits
DOC_CHARS = (2_000, 7_000)
TOPIC_SHARE = 0.65

# retrieve_chunks, the one type both workloads share, gets most samples
SERVE_CYCLE = ("retrieve",) * 4 + ("grouped", "retrieve_docs", "query", "list")
MIXED_CYCLE = ("retrieve",) * 5 + ("update_metadata", "update_text")
CYCLES = {"serve": SERVE_CYCLE, "mixed": MIXED_CYCLE}

_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def _word(rng: random.Random, length: int) -> str:
    return "".join(
        rng.choice(_CONSONANTS if i % 2 == 0 else _VOWELS) for i in range(length)
    )


def vocabulary() -> tuple[list[dict[int, list[str]]], dict[int, list[str]]]:
    """(topic pools, common pool); each pool maps word length -> words."""
    rng = random.Random(f"{STORE_SEED}:vocabulary")
    seen: set[str] = set()

    def pool() -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for length in WORD_LENGTHS:
            words: list[str] = []
            while len(words) < WORDS_PER_LENGTH:
                w = _word(rng, length)
                if w not in seen:
                    seen.add(w)
                    words.append(w)
            out[length] = words
        return out

    topics = [pool() for _ in range(N_TOPICS)]
    return topics, pool()


_VOCAB = vocabulary()


def _flat(p: dict[int, list[str]]) -> list[str]:
    return [w for words in p.values() for w in words]


_TOPIC_WORDS = [_flat(p) for p in _VOCAB[0]]
_COMMON_WORDS = _flat(_VOCAB[1])
_BY_LENGTH = {
    length: sorted({w for p in (*_VOCAB[0], _VOCAB[1]) for w in p[length]})
    for length in WORD_LENGTHS
}


def _pick(rng: random.Random, topic: int) -> str:
    pool = _TOPIC_WORDS[topic] if rng.random() < TOPIC_SHARE else _COMMON_WORDS
    return rng.choice(pool)


def _paragraph(rng: random.Random, topic: int) -> str:
    target = rng.randint(*PARAGRAPH_CHARS)
    words = [_pick(rng, topic)]
    size = len(words[0])
    while True:
        w = _pick(rng, topic)
        if size + 1 + len(w) > target:
            return " ".join(words)
        words.append(w)
        size += 1 + len(w)


@dataclass(frozen=True)
class Doc:
    index: int
    app: str
    folder: str
    filename: str
    topic: int
    text: str
    metadata: dict[str, Any]


def document(index: int) -> Doc:
    """Document ``index`` of the store corpus, built on its own rng."""
    app, folder = GROUPS[index // DOCS_PER_GROUP]
    rng = random.Random(f"{STORE_SEED}:doc:{index}")
    topic = rng.randrange(N_TOPICS)
    target = rng.randint(*DOC_CHARS)
    paragraphs: list[str] = []
    size = 0
    while size < target:
        p = _paragraph(rng, topic)
        paragraphs.append(p)
        size += len(p) + 2
    metadata = {
        "category": rng.choice(CATEGORIES),
        "year": rng.randint(*YEARS),
        "priority": rng.randint(1, 5),
        "topic": f"t{topic:02d}",
    }
    return Doc(index, app, folder, f"{app}-{index:05d}.txt", topic, "\n\n".join(paragraphs), metadata)


def doc_index(filename: str) -> int:
    """Inverse of ``Doc.filename``."""
    return int(filename.rsplit("-", 1)[1].split(".")[0])


def substitute_words(text: str, rng: random.Random) -> str:
    """Replace every word by a vocabulary word of the same length."""
    return "\n\n".join(
        " ".join(rng.choice(_BY_LENGTH[len(w)]) for w in para.split(" "))
        for para in text.split("\n\n")
    )


def query_text(rng: random.Random, topic: int) -> str:
    return " ".join(_pick(rng, topic) for _ in range(rng.randint(5, 8)))


@dataclass(frozen=True)
class Op:
    type: str
    params: dict[str, Any] = field(default_factory=dict)


def _read_op(rng: random.Random, op_type: str) -> Op:
    app = rng.choice(APPS)
    topic = rng.randrange(N_TOPICS)
    params: dict[str, Any] = {"app": app, "query": query_text(rng, topic)}
    if op_type == "retrieve":
        parent, child = FOLDERS[app]
        nested = rng.random() < 0.5
        params.update(
            k=5,
            folder_path=child if nested else parent,
            folder_depth=0 if nested else -1,
            filters={"category": rng.choice(CATEGORIES), "year": {"$gte": rng.randint(2015, 2020)}},
        )
    elif op_type == "grouped":
        params.update(k=5, padding=1)
    elif op_type == "retrieve_docs":
        params.update(k=5)
    elif op_type == "query":
        params.update(k=20)
    elif op_type == "list":
        params = {"app": app, "limit": 20, "filters": {"priority": {"$gte": rng.randint(2, 5)}}}
    else:
        raise ValueError(op_type)
    return Op(op_type, params)


def _write_op(rng: random.Random, op_type: str) -> Op:
    index = rng.randrange(N_DOCS)
    if op_type == "update_metadata":
        return Op(op_type, {"doc": index, "updates": {"priority": rng.randint(1, 5), "reviewed": rng.random() < 0.5}})
    return Op(op_type, {"doc": index, "text_seed": rng.getrandbits(48)})


def op_cycles(workload: str, seed: int) -> Iterator[list[Op]]:
    """Endless cycles of ``workload``'s op mix, each cycle shuffled."""
    cycle = CYCLES[workload]
    rng = random.Random(f"{workload}:{seed}")
    while True:
        types = list(cycle)
        rng.shuffle(types)
        yield [
            _write_op(rng, t) if t.startswith("update_") else _read_op(rng, t)
            for t in types
        ]


def updated_text(op: Op) -> str:
    """The new text an ``update_text`` op writes."""
    return substitute_words(document(op.params["doc"]).text, random.Random(op.params["text_seed"]))
