"""Seeded input generation for the KG-build benchmark.

Every table a workload feeds the engine is made here, in pure Python,
from the ``--seed`` argument alone: the same seed gives byte-identical
parquet files, a different seed gives different ones. No Spark job runs
while inputs are made, so generation cost is the same on every commit.

The corpus mimics the shape of the sf0.1 ``documents`` table (5,000
documents of 10-100 words over a 31-word vocabulary, words drawn
uniformly); the transcripts and the 600-entry knowledge base are then
derived with the same rules as ``sources.from_documents`` (ported here so
no Spark job is needed; ``tests/test_smoke.py`` pins the port against
the Spark originals).
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from information_extraction_spark.kernels.extraction import reference_extract
from information_extraction_spark.sources.from_documents import (
    ENTRIES_PER_PREDICATE,
    N_BIGRAMS,
    N_PREDICATES,
    TS_ORIGIN,
    TURN_WORDS,
    alias_chain_pairs,
)

# Vocabulary of the sf0.1 documents table (31 words, one of length 1).
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
N_DOCS = 5000
DOC_WORDS = (10, 100)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
KB_SCHEMA = pa.schema(
    [("predicate", pa.string()), ("subject", pa.string()), ("object", pa.string())]
)
SCHEMAS_SCHEMA = pa.schema(
    [
        ("schema_id", pa.int32()),
        ("predicate", pa.string()),
        ("subject_type", pa.string()),
        ("object_type", pa.string()),
    ]
)
ALIAS_SCHEMA = pa.schema([("canonical", pa.string()), ("alias", pa.string())])


def rng_for(seed: int, purpose: str) -> random.Random:
    """Independent stream per purpose, so adding a draw for one input
    never shifts another input's values."""
    return random.Random(f"{seed}:{purpose}")


def write_table(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    """Write ``rows`` as one parquet file with a fixed layout (no
    writer-time metadata varies between calls)."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table(
        {f.name: pa.array(c, type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# Corpus, transcripts, knowledge base
# ---------------------------------------------------------------------------


def documents(seed: int, n_docs: int = N_DOCS) -> list[tuple[int, str]]:
    rng = rng_for(seed, "documents")
    lo, hi = DOC_WORDS
    return [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(lo, hi))))
        for i in range(n_docs)
    ]


def transcripts(docs: list[tuple[int, str]], replicate: int = 1) -> list[tuple]:
    """Rows of ``sources.from_documents.transcripts_from_documents``:
    each document becomes one conversation of ``TURN_WORDS``-word turns;
    replica ``r > 0`` appends the marker `` zq<r>`` so replicas stay
    textually unique. Ordered by (replica, event time)."""
    origin = datetime.fromisoformat(TS_ORIGIN).replace(tzinfo=timezone.utc)
    roles = ("user", "assistant", "tool")
    rows = []
    for rep in range(replicate):
        marker = f" zq{rep}" if rep > 0 else ""
        for doc_id, text in docs:
            words = text.split(" ")
            for t in range(math.ceil(len(words) / TURN_WORDS)):
                turn = " ".join(words[t * TURN_WORDS : (t + 1) * TURN_WORDS])
                rows.append(
                    (
                        f"doc{doc_id}.{rep}",
                        t,
                        roles[t % 3],
                        turn + marker,
                        "search" if t % 3 == 2 else None,
                        origin + timedelta(seconds=doc_id * 3600 + t * 30),
                    )
                )
    return rows


def vocabulary(docs: list[tuple[int, str]]) -> list[str]:
    return sorted({w for _, t in docs for w in t.split(" ") if len(w) >= 2})


def top_bigrams(docs: list[tuple[int, str]], n: int = N_BIGRAMS) -> list[str]:
    counts: Counter[str] = Counter()
    for _, text in docs:
        w = text.split(" ")
        counts.update(f"{a} {b}" for a, b in zip(w, w[1:]))
    return [b for b, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n]]


def base_kb(docs: list[tuple[int, str]]) -> tuple[list[tuple], list[tuple]]:
    """(kb rows, schema rows) of ``sources.from_documents.kb_from_documents``:
    50 predicates x 12 entries, subjects from the vocabulary, objects
    from the top bigrams, by fixed index arithmetic."""
    vocab, bigrams = vocabulary(docs), top_bigrams(docs)
    v, b = len(vocab), len(bigrams)
    kb, schemas = set(), []
    for k in range(N_PREDICATES):
        pred = f"rel{k:02d}"
        schemas.append((k, pred, f"T{k % 7}", f"U{k % 5}"))
        for i in range(ENTRIES_PER_PREDICATE):
            kb.add((pred, vocab[(7 * k + 3 * i) % v], bigrams[(11 * k + 5 * i + 1) % b]))
    return sorted(kb), schemas


def grown_kb(
    seed: int,
    turns: list[tuple],
    kb: list[tuple],
    n_entities: int,
    subject_len: tuple[int, int] = (3, 17),
    object_len: tuple[int, int] = (13, 17),
) -> list[tuple]:
    """``kb`` grown with entries whose subject and object are corpus
    substrings, until the KB holds ``n_entities`` distinct entities.

    Objects are drawn long (they span two or more words, so each occurs
    in few turns) and each new entry pairs a subject and an object cut
    from the same corpus turn, so every added entry fires in some turn.
    Grown from the whole corpus while a workload reads a subset of it,
    few added entries fire in the subset and the triple yield per turn
    stays near the base KB's; drawing both sides short makes each fired
    predicate tag dozens of subjects per turn."""
    rng = rng_for(seed, "kb_growth")
    preds = sorted({p for p, _, _ in kb})
    entities = {e for _, s, o in kb for e in (s, o)}
    out = set(kb)
    texts = [r[3] for r in turns if len(r[3]) > object_len[1] + 2]

    def cut(text: str, lo: int, hi: int) -> str:
        n = rng.randint(lo, min(hi, len(text)))
        i = rng.randint(0, len(text) - n)
        return text[i : i + n]

    while len(entities) < n_entities:
        text = rng.choice(texts)
        s = cut(text, *subject_len).strip()
        o = cut(text, *object_len).strip()
        if len(s) < subject_len[0] or len(o) < object_len[0] or s == o:
            continue
        out.add((rng.choice(preds), s, o))
        entities.update((s, o))
    return sorted(out)


# ---------------------------------------------------------------------------
# Alias dictionaries
# ---------------------------------------------------------------------------


def linking_surfaces(seed: int, corpus_entities: list[str], n_surfaces: int) -> list[str]:
    """Sorted surface list: the corpus entities plus seeded synthetic
    surfaces (lowercase words of 3-12 letters), ``n_surfaces`` in all."""
    rng = rng_for(seed, "alias_surfaces")
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = {e.lower() for e in corpus_entities}
    while len(out) < n_surfaces:
        out.add("".join(rng.choices(letters, k=rng.randint(3, 12))))
    return sorted(out)


def linking_alias_pairs(seed: int, corpus_entities: list[str], n_surfaces: int) -> list[tuple[str, str]]:
    """The repo's ``alias_chain_pairs`` rule over the seeded surfaces."""
    return alias_chain_pairs(linking_surfaces(seed, corpus_entities, n_surfaces))


# ---------------------------------------------------------------------------
# Check samples, expected extraction and the perturbed gold set
# ---------------------------------------------------------------------------


def sample_turns(seed: int, turns: list[tuple], n: int, purpose: str = "check_sample") -> list[tuple]:
    rng = rng_for(seed, purpose)
    return sorted(rng.sample(turns, min(n, len(turns))))


def schema_types(schemas: list[tuple]) -> dict[str, tuple[str, str]]:
    out: dict[str, tuple[str, str]] = {}
    for _, pred, st, ot in sorted(schemas):
        out.setdefault(pred, (st, ot))
    return out


def kb_by_predicate(kb: list[tuple]) -> dict[str, list[tuple[str, str]]]:
    """Dict KB for ``reference_extract``'s direct (non-indexed) path."""
    out: dict[str, list[tuple[str, str]]] = {}
    for pred, s, o in kb:
        out.setdefault(pred, []).append((s, o))
    return out


def expected_triples(texts: list[str], kb: list[tuple], schemas: list[tuple]) -> dict[str, list[tuple]]:
    """text -> sorted (subject, predicate, object, subject_type,
    object_type) by the pure-Python reference over the dict KB."""
    by_pred, types = kb_by_predicate(kb), schema_types(schemas)
    return {t: reference_extract(t, by_pred, types) for t in sorted(set(texts))}


def perturbed_gold(
    seed: int,
    expected: dict[str, list[tuple]],
    alias_pairs: list[tuple[str, str]],
    drop: float = 0.1,
    aliased: float = 0.1,
    spurious: float = 0.2,
) -> list[tuple[str, str, str, str]]:
    """Gold (text, subject, predicate, object) rows: the expected
    triples of each sampled text with a seeded share dropped (lowers
    precision), a share rewritten to an alias of the subject (matched
    only through alias expansion) and seeded spurious triples added
    (lowers recall)."""
    rng = rng_for(seed, "gold")
    aliases: dict[str, list[str]] = {}
    for c, a in alias_pairs:
        aliases.setdefault(c.lower(), []).append(a.lower())
    gold = set()
    for text, triples in sorted(expected.items()):
        for s, p, o, _, _ in triples:
            r = rng.random()
            if r < drop:
                continue
            if r < drop + aliased and s.lower() in aliases:
                s = rng.choice(sorted(aliases[s.lower()]))
            gold.add((text, s, p, o))
        if triples and rng.random() < spurious:
            s, p, _, _, _ = rng.choice(triples)
            gold.add((text, s, p, f"spurious{rng.randrange(10**6)}"))
    return sorted(gold)
