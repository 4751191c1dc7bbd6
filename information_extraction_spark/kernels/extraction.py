"""Deterministic extraction kernels reproducing the reference's
pre/post-processing semantics.

Each function documents the reference behavior it reproduces with a
file:line citation into /root/reference. The implementations are
written fresh against those semantics (this module is the contract the
pytest goldens in tests/test_kernels.py pin down, including the two
worked examples embedded in the reference at labeling/tagging.py:65-85).

The "model" is a knowledge base of (subject, predicate, object)
entries: stage 1 predicts a predicate for a sentence iff some KB entry
for that predicate has both its subject and object occurring in the
sentence; stage 2 tags the spans of exactly those entries. A real
fine-tuned model can be swapped in behind the same batch signatures.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterable, Mapping

import numpy as np

# ---------------------------------------------------------------------------
# Substring search
# ---------------------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=65536)
def _entity_pattern(needle: str) -> re.Pattern:
    # The stdlib re module's internal cache holds only 512 patterns;
    # a KB has thousands of entities, so cache compiled patterns here
    # (once per Python worker).
    return re.compile(re.escape(needle), re.IGNORECASE)


def find_occurrences(needle: str, haystack: str) -> list[int]:
    """All non-overlapping, case-insensitive match offsets of ``needle``
    in ``haystack``.

    Semantics of reference labeling/tagging.py:4-6 (``re.finditer`` over
    ``re.escape(sub)`` with ``re.I``): matches never overlap and the
    needle is treated literally.
    """
    if not needle:
        return []
    return [m.start() for m in _entity_pattern(needle).finditer(haystack)]


# ---------------------------------------------------------------------------
# Stage 1 — predicate classification (deterministic kernel)
# ---------------------------------------------------------------------------


def _pseudo_score(text: str, predicate: str) -> float:
    """Deterministic pseudo-probability in (0, 0.5) for non-matching
    predicates, used only to rank the top-k fallback (reference takes
    the 10 highest sigmoid scores when nothing clears the threshold,
    prepare_data_for_labeling_infer.py:23-33). Derived from a stable
    digest so results are partition-order independent.
    """
    h = hashlib.md5(f"{text}\x00{predicate}".encode()).digest()
    return (int.from_bytes(h[:4], "big") / 2**32) * 0.5


def classify_predicates(
    text: str,
    kb_by_predicate: Mapping[str, list[tuple[str, str]]],
    threshold: float = 0.5,
    fallback_k: int = 10,
) -> tuple[list[str], list[float]]:
    """Predict which relations a sentence expresses.

    A predicate scores 1.0 when at least one KB (subject, object) pair
    for it occurs in the sentence (both sides, case-insensitive),
    else a deterministic pseudo-score < 0.5. Predicted set = scores
    above ``threshold`` (reference sigmoid threshold 0.5,
    run_predicate_classification.py:796-798); when empty, fall back to
    the ``fallback_k`` highest-scoring relations
    (prepare_data_for_labeling_infer.py:23-33,66-69).

    Returns (predicates, scores) sorted by (-score, predicate) so the
    output is deterministic under any partitioning.
    """
    scored: list[tuple[str, float]] = []
    for predicate, pairs in kb_by_predicate.items():
        hit = any(
            find_occurrences(s, text) and find_occurrences(o, text)
            for s, o in pairs
        )
        score = 1.0 if hit else _pseudo_score(text, predicate)
        scored.append((predicate, score))
    scored.sort(key=lambda kv: (-kv[1], kv[0]))
    above = [(p, s) for p, s in scored if s > threshold]
    if not above:
        above = scored[:fallback_k]
    return [p for p, _ in above], [s for _, s in above]


# ---------------------------------------------------------------------------
# Stage 2 — BIESO span tagging
# ---------------------------------------------------------------------------


# Interned tag constants: (B, I, E, S) per kind — _mark_span runs
# hundreds of thousands of times per batch; f-string construction per
# write was ~10% of kernel time.
_KIND_TAGS = {
    "SUB": ("B-SUB", "I-SUB", "E-SUB", "S-SUB"),
    "OBJ": ("B-OBJ", "I-OBJ", "E-OBJ", "S-OBJ"),
}


def _mark_span(tags: list[str], start: int, length: int, kind: str) -> None:
    """Write one BIESO span of ``kind`` ('SUB'/'OBJ') into ``tags``.

    Length-1 entities get 'S-', length-2 'B-'+'E-', longer
    'B-' + 'I-'*k + 'E-' (reference labeling/tagging.py:28-49).
    """
    b, i_, e, s = _KIND_TAGS[kind]
    if length == 1:
        tags[start] = s
        return
    tags[start] = b
    end = start + length - 1
    tags[end] = e
    for i in range(start + 1, end):
        tags[i] = i_


def bieso_tags(text: str, pairs: Iterable[tuple[str, str]]) -> list[str]:
    """Per-character BIESO subject/object tags for a (sentence,
    predicate) work unit.

    Reproduces reference labeling/tagging.py:9-51:

    * every case-insensitive occurrence of each subject/object is
      tagged (all offsets from :func:`find_occurrences`),
    * when subject == object, the object takes the odd-indexed
      occurrences of the shared string while the subject still tags
      every occurrence first (tagging.py:25-26) — objects then
      overwrite the odd ones because the object loop runs second,
    * pairs are applied in order; later writes overwrite earlier tags.

    ``pairs`` is the KB (subject, object) list for this predicate —
    the analog of the reference's spo_list filtered to one spo_concat
    key (tagging.py:18-19).
    """
    tags = ["O"] * len(text)
    for subject, obj in pairs:
        s_offsets = find_occurrences(subject, text)
        o_offsets = find_occurrences(obj, text)
        if subject == obj:
            o_offsets = [off for i, off in enumerate(s_offsets) if i % 2 == 1]
        for off in s_offsets:
            _mark_span(tags, off, len(subject), "SUB")
        for off in o_offsets:
            _mark_span(tags, off, len(obj), "OBJ")
    return tags


# ---------------------------------------------------------------------------
# Span decoding
# ---------------------------------------------------------------------------


def decode_bieso(tags: list[str], text: str) -> tuple[list[str], list[str]]:
    """Decode a BIESO tag sequence back into subject/object strings.

    Reproduces reference labeling/predict.py:50-71: 'S-*' emits the
    single character; 'B-*' records a start; 'E-*' emits
    text[start:end+1]. A stray 'E-*' with no live start is skipped
    (the reference would reuse a stale index; our tagger never
    produces that shape, and skipping keeps the kernel total).
    """
    subjects: list[str] = []
    objects: list[str] = []
    start: int | None = None
    for i, tag in enumerate(tags):
        if tag == "O":
            continue
        head = tag[0]
        if head == "S":
            (subjects if tag.endswith("SUB") else objects).append(text[i])
        elif head == "B":
            start = i
        elif head == "E":
            if start is None:
                continue
            span = text[start : i + 1]
            (subjects if tag.endswith("SUB") else objects).append(span)
            start = None
    return subjects, objects


def decode_bio_tokens(
    tokens: list[str], labels: list[str]
) -> list[tuple[str, str]]:
    """Decode BIO labels over (WordPiece) tokens into
    (kind, entity) tuples, merging '##' continuation pieces.

    Reproduces the legacy path produce_submit_json_file.py:185-234 +
    the WordPiece merge at :153-171: a leading '[CLS]' label is
    dropped, labels are truncated to the token count, 'O' flushes the
    open entity, 'B-*' flushes then opens, 'I-*'/'[##WordPiece]'
    extends an open entity, '[SEP]' stops decoding, and the last open
    entity is flushed at end of sequence.
    """
    if labels and labels[0] == "[CLS]":
        labels = labels[1:]
    labels = labels[: len(tokens)]
    entities: list[tuple[str, str]] = []
    kind: str | None = None
    parts: list[str] = []

    def flush() -> None:
        nonlocal kind, parts
        if kind is not None and parts:
            merged = "".join(
                p[2:] if p.startswith("##") else p for p in parts
            )
            if merged:
                entities.append((kind, merged))
        kind, parts = None, []

    for token, label in zip(tokens, labels):
        if label == "[SEP]":
            break
        if label == "O":
            flush()
        elif label.startswith("B-"):
            flush()
            kind = label[2:]
            parts = [token]
        elif (label.startswith("I-") or label == "[##WordPiece]") and kind is not None:
            parts.append(token)
    flush()
    return entities


# ---------------------------------------------------------------------------
# Indexed knowledge base (fast path for the batch kernels)
# ---------------------------------------------------------------------------

# Polynomial hash of a code-point string, mod 2**64 (numpy uint64
# arithmetic wraps): h(s) = sum_j s[j] * _MUL**j. The multiplier is odd,
# hence invertible mod 2**64, so the hash of any window of a text is the
# difference of two prefix sums times one inverse power.
_MUL = 0x9E3779B97F4A7C15
_MUL_INV = pow(_MUL, -1, 1 << 64)


# Batch kernels probe at most this many texts at once: the touched-pair
# arrays grow with texts × pairs touched per text, and slicing keeps a
# 10k-row Arrow batch from holding them all (~150 MB at 10k rows of the
# sf0.1 corpus against the 600-entry KB).
_SLICE_TEXTS = 128


def _code_points(strings: list[str]) -> np.ndarray:
    """Code points of the concatenated ``strings`` as one uint32 array."""
    return np.frombuffer(
        "".join(strings).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )


def _powers(base: int, n: int) -> np.ndarray:
    """``base**k mod 2**64`` for k in [0, n)."""
    out = np.full(n, base, dtype=np.uint64)
    out[:1] = 1
    return np.cumprod(out)


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + c)`` over ``zip(starts, counts)``."""
    shift = np.repeat(starts - (np.cumsum(counts) - counts), counts)
    return shift + np.arange(len(shift))


class KnowledgeBase:
    """Indexed view of the (predicate, subject, object) KB.

    Semantically identical to :func:`classify_predicates` over the same
    entries (tests assert parity with the direct implementation). This
    is what the Arrow-batched Spark kernels and the golden generator
    use, and every method goes through one index built here:

    * the distinct entities lowered with ``str.lower``, bucketed by
      length; each bucket holds the sorted polynomial hashes of its
      entities and their code points;
    * the KB pairs numbered in (predicate, pair index) order, with the
      lowered entity id of each side;
    * a CSR map from lowered entity to the pairs it is a side of.

    Presence hashes every window of the lowered text once per distinct
    entity length, looks the hashes up with ``searchsorted`` and
    confirms each hit with an exact code-point compare, so a hash
    collision never makes an entity present. Each (text, entity) hit
    then expands through the CSR map: a pair fires when both its sides
    are hits, and only pairs with at least one side present are visited
    for tagging. Cost per batch: O(text chars × distinct entity lengths)
    to probe plus O(hits × entity degree) to fire — independent of the
    number of KB entities that do not occur.
    """

    def __init__(self, entries: Iterable[tuple[str, str, str]]):
        """``entries`` are (predicate, subject, object) rows."""
        self.by_predicate: dict[str, list[tuple[str, str]]] = {}
        seen: set[tuple[str, str, str]] = set()
        for predicate, subject, obj in entries:
            key = (predicate, subject, obj)
            if key in seen:
                continue
            seen.add(key)
            self.by_predicate.setdefault(predicate, []).append((subject, obj))
        self.predicates = sorted(self.by_predicate)
        self._pred_index = {p: k for k, p in enumerate(self.predicates)}
        # Pairs in (predicate, pair index) order: the tag overwrite order.
        sizes = [len(self.by_predicate[p]) for p in self.predicates]
        self._pairs = [pr for p in self.predicates for pr in self.by_predicate[p]]
        self._lowered = sorted({e.lower() for pair in self._pairs for e in pair})
        lid = {el: k for k, el in enumerate(self._lowered)}
        self._pred_start = np.concatenate(([0], np.cumsum(sizes, dtype=np.int64)))
        self._pair_pred = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
        n_pairs = len(self._pairs)
        s_id = np.fromiter(
            (lid[s.lower()] for s, _ in self._pairs), np.int64, n_pairs
        )
        o_id = np.fromiter(
            (lid[o.lower()] for _, o in self._pairs), np.int64, n_pairs
        )

        # CSR entity -> (pair, side); side bit 1 = subject, 2 = object.
        same = s_id == o_id
        ent = np.concatenate((s_id, o_id[~same]))
        pair = np.concatenate((np.arange(n_pairs), np.flatnonzero(~same)))
        side = np.concatenate(
            (np.where(same, 3, 1), np.full(len(ent) - n_pairs, 2))
        )
        order = np.lexsort((pair, ent))
        self._csr_pair = pair[order]
        self._csr_side = side[order].astype(np.uint8)
        self._csr_ptr = np.concatenate(
            ([0], np.cumsum(np.bincount(ent, minlength=len(self._lowered))))
        )

        # Length buckets: (length, filter shift, filter, sorted hashes,
        # entity ids, code points), in increasing length.
        lengths = np.array([len(e) for e in self._lowered], dtype=np.int64)
        codes = _code_points(self._lowered)
        offsets = np.cumsum(lengths) - lengths
        self._mul_pow = _powers(_MUL, max(1 << 12, lengths.max(initial=0) + 1))
        self._inv_pow = _powers(_MUL_INV, len(self._mul_pow))
        # "" occurs in every text (as ``"" in low`` says) but tags nothing.
        self._empty_id = lid.get("")
        self._buckets: list[tuple] = []
        by_len = np.argsort(lengths, kind="stable")
        sorted_len = lengths[by_len]
        for length in np.unique(sorted_len[sorted_len > 0]).tolist():
            ids = by_len[np.searchsorted(sorted_len, length, "left"):
                         np.searchsorted(sorted_len, length, "right")]
            ent_codes = codes[offsets[ids][:, None] + np.arange(length)]
            hashes = (ent_codes * self._mul_pow[:length]).sum(
                axis=1, dtype=np.uint64
            )
            order = np.argsort(hashes, kind="stable")
            # Membership filter on the hash's top bits, ~8 slots per
            # entity: most windows are rejected by one byte load before
            # the binary search.
            shift = np.uint64(64 - min(24, max(10, (8 * len(ids)).bit_length())))
            bits = np.zeros(1 << (64 - int(shift)), dtype=bool)
            bits[hashes >> shift] = True
            self._buckets.append(
                (length, shift, bits, hashes[order], ids[order], ent_codes[order])
            )

        # Fallback top-k is a pure function of (text, k); corpora are
        # duplicate-heavy (and the bench replicates its corpus), so
        # memoize per KB instance. Bounded: cleared when oversized.
        self._fallback_cache: dict[tuple[str, int], tuple[list, list]] = {}
        # Same for the fused extract units (see extract_batch).
        self._extract_cache: dict[tuple[str, int], list] = {}

    def _fallback(
        self, text: str, fallback_k: int
    ) -> tuple[list[str], list[float]]:
        """Top-``fallback_k`` pseudo-scored predicates for a text where
        nothing fired (prepare_data_for_labeling_infer.py:23-33)."""
        key = (text, fallback_k)
        hit = self._fallback_cache.get(key)
        if hit is None:
            scored = sorted(
                ((p, _pseudo_score(text, p)) for p in self.predicates),
                key=lambda kv: (-kv[1], kv[0]),
            )[:fallback_k]
            hit = ([p for p, _ in scored], [s for _, s in scored])
            if len(self._fallback_cache) > 100_000:
                self._fallback_cache.clear()
            self._fallback_cache[key] = hit
        return hit

    def _hits(self, lows: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Presence over lowered texts as sorted, distinct (text index,
        lowered entity id) pairs: entity ``e`` occurs in text ``t``."""
        n = len(lows)
        ends = np.cumsum(np.fromiter(map(len, lows), np.int64, n))
        codes = _code_points(lows)
        total = len(codes)
        if total >= len(self._mul_pow):
            self._mul_pow = _powers(_MUL, 2 * total + 1)
            self._inv_pow = _powers(_MUL_INV, len(self._mul_pow))
        prefix = np.zeros(total + 1, dtype=np.uint64)
        np.cumsum(codes * self._mul_pow[:total], out=prefix[1:])
        tids, eids = [], []
        if self._empty_id is not None:
            tids.append(np.arange(n))
            eids.append(np.full(n, self._empty_id))
        for length, shift, bits, hashes, ids, ent_codes in self._buckets:
            if length > total:
                break
            win = prefix[length:] - prefix[:-length]
            win *= self._inv_pow[: total + 1 - length]
            pos = np.flatnonzero(bits[win >> shift])
            win = win[pos]
            lo = np.searchsorted(hashes, win)
            np.minimum(lo, len(hashes) - 1, out=lo)
            found = hashes[lo] == win
            pos, win, lo = pos[found], win[found], lo[found]
            # Drop windows that run past the end of their text.
            t = np.searchsorted(ends, pos, side="right")
            inside = pos + length <= ends[t]
            pos, win, lo, t = pos[inside], win[inside], lo[inside], t[inside]
            # Entities with equal hashes sit side by side in the bucket.
            count = np.searchsorted(hashes, win, side="right") - lo
            if (count > 1).any():
                lo = _ranges(lo, count)
                pos, t = np.repeat(pos, count), np.repeat(t, count)
            window = codes[pos[:, None] + np.arange(length)]
            exact = (window == ent_codes[lo]).all(axis=1)
            tids.append(t[exact])
            eids.append(ids[lo[exact]])
        if not tids:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        n_ent = len(self._lowered)
        key = np.unique(np.concatenate(tids) * n_ent + np.concatenate(eids))
        return np.divmod(key, n_ent)

    def _presence_and_fired(
        self, texts: list[str]
    ) -> tuple[tuple[np.ndarray, np.ndarray, np.ndarray], list[list[int]]]:
        """Batch presence, pair touching and predicate firing, shared by
        every method so the per-text and batch paths cannot drift.

        Probes the lowered texts against the length buckets (O(text
        chars × distinct entity lengths)), then expands each (text,
        entity) hit through the entity -> pair CSR map (O(hits × entity
        degree)); no work is done per absent entity. Returns
        ``((text, pair, sides), fired)``: the touched pairs — at least
        one side present — as arrays sorted by (text, pair id) with the
        present sides as bits (1 subject, 2 object), and per text the
        sorted indices of its fired predicates (some pair with both
        sides present)."""
        n = len(texts)
        fired: list[list[int]] = [[] for _ in range(n)]
        tid, eid = self._hits([t.lower() for t in texts])
        n_pairs = len(self._pairs)
        if not n_pairs:
            none = np.zeros(0, np.int64)
            return (none, none, none), fired
        start = self._csr_ptr[eid]
        degree = self._csr_ptr[eid + 1] - start
        k = _ranges(start, degree)
        # (text, pair, side) packed into one sortable int64.
        key = np.repeat(tid, degree) * n_pairs + self._csr_pair[k]
        key = np.sort(key * 4 + self._csr_side[k])
        key, side = np.divmod(key, 4)
        first = np.flatnonzero(np.diff(key, prepend=-1))
        sides = np.bitwise_or.reduceat(side, first)
        tid, pair = np.divmod(key[first], n_pairs)
        both = sides == 3
        n_pred = len(self.predicates)
        fired_key = np.unique(tid[both] * n_pred + self._pair_pred[pair[both]])
        for t, p in zip(*(a.tolist() for a in np.divmod(fired_key, n_pred))):
            fired[t].append(p)
        return (tid, pair, sides), fired

    def entities_present(self, text: str) -> set[str]:
        """Lowercased entities occurring (case-insensitively) in text."""
        _, eid = self._hits([text.lower()])
        return {self._lowered[e] for e in eid.tolist()}

    def classify(
        self, text: str, threshold: float = 0.5, fallback_k: int = 10
    ) -> tuple[list[str], list[float]]:
        """Same contract as :func:`classify_predicates` (threshold-0.5
        prediction + top-k fallback) via the entity index."""
        fired = set(self._presence_and_fired([text])[1][0])
        scored = [
            (p, 1.0 if k in fired else _pseudo_score(text, p))
            for k, p in enumerate(self.predicates)
        ]
        scored.sort(key=lambda kv: (-kv[1], kv[0]))
        above = [(p, s) for p, s in scored if s > threshold]
        if not above:
            above = scored[:fallback_k]
        return [p for p, _ in above], [s for _, s in above]

    def pairs_for(self, predicate: str) -> list[tuple[str, str]]:
        return self.by_predicate.get(predicate, [])

    def _span_writes(
        self,
        text: str,
        touched: Iterable[tuple[int, int]],
        offs: dict[str, list[int]],
    ) -> list[tuple[int, int, str]]:
        """BIESO span writes (start, length, kind) of the ``touched``
        (pair id, present sides) of one predicate, in pair order — the
        overwrite order of the shared tag array. ``offs`` memoizes match
        offsets per entity across a text's predicates."""
        writes: list[tuple[int, int, str]] = []
        for g, sides in touched:
            subject, obj = self._pairs[g]
            if sides & 1:
                s_offsets = offs.get(subject)
                if s_offsets is None:
                    s_offsets = offs[subject] = find_occurrences(subject, text)
            else:
                s_offsets = []
            if subject == obj:
                o_offsets = s_offsets[1::2]
            elif sides & 2:
                o_offsets = offs.get(obj)
                if o_offsets is None:
                    o_offsets = offs[obj] = find_occurrences(obj, text)
            else:
                o_offsets = []
            s_len, o_len = len(subject), len(obj)
            for off in s_offsets:
                writes.append((off, s_len, "SUB"))
            for off in o_offsets:
                writes.append((off, o_len, "OBJ"))
        return writes

    def bieso_tags_fast(self, text: str, predicate: str) -> list[str]:
        """Semantically identical to
        ``bieso_tags(text, self.pairs_for(predicate))`` (parity-tested),
        but runs the regex scans only for the pair sides the index
        finds present."""
        tags = ["O"] * len(text)
        k = self._pred_index.get(predicate)
        if k is None:
            return tags
        (_, pair, sides), _ = self._presence_and_fired([text])
        lo, hi = np.searchsorted(pair, self._pred_start[k : k + 2])
        touched = zip(pair[lo:hi].tolist(), sides[lo:hi].tolist())
        for start, length, kind in self._span_writes(text, touched, {}):
            _mark_span(tags, start, length, kind)
        return tags

    def extract_batch(
        self,
        texts,
        threshold: float = 0.5,
        fallback_k: int = 10,
        min_entity_len: int | None = None,
    ) -> list[list[tuple[str, list[str], list[str]]]]:
        """Fused classify → tag → decode over a batch of texts.

        Returns, per input text, the list of (predicate, subjects,
        objects) work units whose decoded spans are non-empty on BOTH
        sides — the only units that can produce triples
        (produce_submit_json_file.py:284-288 needs one subject and one
        object). With ``min_entity_len`` set, each unit is additionally
        CLEANED at memo time (:func:`assemble_entities`: set-dedup,
        drop entities shorter than ``min_entity_len``, sorted) and
        units left empty on either side are dropped — the downstream
        plan can then skip re-evaluating the equivalent
        array_distinct/filter/array_sort lambdas per unit row. The
        clean runs once per DISTINCT text (inside the memo), not once
        per row. Element-wise parity with the staged path
        ``decode_bieso(bieso_tags_fast(text, p))`` for every predicate
        ``classify`` would emit, including fallback predicates: a
        non-fired predicate can still yield triples when one pair
        matches only its subject and another pair only its object
        (cross-pair mixing in the shared tag array), so fallback units
        are tagged too, not skipped.

        Fusion wins over classify_stage → explode → tag_decode_stage:
        one Arrow round-trip instead of two, the batch presence pass
        also selects the pairs to tag (only pairs of a chosen predicate
        with a side present are visited), and entity match offsets are
        memoized per text across all its predicates (KB entities recur
        across pairs).

        Duplicate texts are deduped BEFORE the presence pass and their
        units served from a bounded per-KB memo (same rationale as the
        fallback memo: web corpora are duplicate-heavy — that is why
        the engine ships five dedup operators — and the kernel output
        is a pure function of (text, fallback_k)). On an all-unique
        batch the cost is one dict probe per row; on a corpus with
        duplication factor d the presence pass and span work shrink
        by ~d. Results are shared references; callers must not mutate.
        """
        texts_list = [t if isinstance(t, str) else (t or "") for t in texts]
        cache = self._extract_cache
        # Capture this batch's hits into a local map FIRST: the bounded
        # clear below must never evict an entry this batch already
        # relies on (clearing after dedup and reading back from the
        # shared cache would KeyError exactly when the memo fills up).
        results: dict[str, list] = {}
        todo: list[str] = []
        todo_seen: set[str] = set()
        for t in texts_list:
            if t in results or t in todo_seen:
                continue
            hit = cache.get((t, fallback_k, min_entity_len))
            if hit is not None:
                results[t] = hit
            else:
                todo_seen.add(t)
                todo.append(t)
        if todo:
            computed: list[tuple[str, list]] = []
            for lo in range(0, len(todo), _SLICE_TEXTS):
                part = todo[lo : lo + _SLICE_TEXTS]
                computed += zip(
                    part, self._extract_unique(part, fallback_k, min_entity_len)
                )
            if len(cache) > 50_000:
                cache.clear()
            for t, units in computed:
                cache[(t, fallback_k, min_entity_len)] = units
                results[t] = units
        return [results[t] for t in texts_list]

    def _extract_unique(
        self,
        texts_list: list[str],
        fallback_k: int,
        min_entity_len: int | None = None,
    ) -> list[list[tuple[str, list[str], list[str]]]]:
        """extract_batch body over known-unique texts (no memo)."""
        (tid, pair, sides), fired = self._presence_and_fired(texts_list)
        # Units to tag per text: the fired predicates (predicate order),
        # else the fallback top-k (fallback order).
        chosen = [
            f or [self._pred_index[p] for p in self._fallback(text, fallback_k)[0]]
            for text, f in zip(texts_list, fired)
        ]
        # Keep the touched pairs of chosen units only; each run of equal
        # unit keys is one unit's pairs, in pair order.
        n_pred = len(self.predicates)
        unit = tid * n_pred + self._pair_pred[pair]
        wanted = np.fromiter(
            (i * n_pred + p for i, ps in enumerate(chosen) for p in ps), np.int64
        )
        keep = np.isin(unit, wanted)
        unit, pairs, sides = unit[keep], pair[keep].tolist(), sides[keep].tolist()
        first = np.flatnonzero(np.diff(unit, prepend=-1))
        bounds = first.tolist() + [len(unit)]
        runs = dict(zip(unit[first].tolist(), zip(bounds, bounds[1:])))
        out: list[list[tuple[str, list[str], list[str]]]] = []
        for i, text in enumerate(texts_list):
            offs: dict[str, list[int]] = {}
            per_text: list[tuple[str, list[str], list[str]]] = []
            for p in chosen[i]:
                run = runs.get(i * n_pred + p)
                if run is None:
                    continue
                a, b = run
                writes = self._span_writes(text, zip(pairs[a:b], sides[a:b]), offs)
                if not writes:
                    continue
                # Fast path: when the DISTINCT spans are pairwise
                # disjoint, later writes never overwrite earlier tags,
                # so the decoded output is exactly the spans in start
                # order (decode_bieso emits in position order; 'S-' for
                # len 1 and 'B..E' for longer both decode to the
                # slice). Any overlap — including the sub==obj odd-
                # occurrence overwrite — falls back to the exact
                # tag-array + decode path.
                uniq = sorted(set(writes))
                disjoint = all(
                    uniq[k][0] + uniq[k][1] <= uniq[k + 1][0]
                    for k in range(len(uniq) - 1)
                )
                if disjoint:
                    subjects, objects = [], []
                    for start, length, kind in uniq:
                        (subjects if kind == "SUB" else objects).append(
                            text[start : start + length]
                        )
                else:
                    tags = ["O"] * len(text)
                    for start, length, kind in writes:
                        _mark_span(tags, start, length, kind)
                    subjects, objects = decode_bieso(tags, text)
                if min_entity_len is not None:
                    subjects, objects = assemble_entities(
                        subjects, objects, min_len=min_entity_len
                    )
                if subjects and objects:
                    per_text.append((self.predicates[p], subjects, objects))
            out.append(per_text)
        return out

    def classify_batch(
        self,
        texts,
        threshold: float = 0.5,
        fallback_k: int = 10,
    ) -> tuple[list[list[str]], list[list[float]]]:
        """Vectorized :meth:`classify` over a batch of texts.

        Presence and predicate firing run batch-wide on the entity index
        (see :meth:`_presence_and_fired`); only fallback rows (nothing
        fired) drop back to the per-row pseudo-score path. Output is
        element-wise identical to :meth:`classify` (parity-tested).

        Duplicate texts are collapsed before the presence pass (same
        rationale as :meth:`extract_batch`'s memo: the result is a
        pure function of the text, and web corpora are
        duplicate-heavy). Returned lists are shared references for
        duplicate rows; callers must not mutate.
        """
        texts_list = [t if isinstance(t, str) else (t or "") for t in texts]
        uniq = list(dict.fromkeys(texts_list))
        fired: list[list[int]] = []
        for lo in range(0, len(uniq), _SLICE_TEXTS):
            fired += self._presence_and_fired(uniq[lo : lo + _SLICE_TEXTS])[1]
        per_text: dict[str, tuple[list[str], list[float]]] = {}
        for t, f in zip(uniq, fired):
            # Fired indices are sorted, so the names are already in
            # (-score, predicate) order (all scores 1.0).
            if f:
                per_text[t] = ([self.predicates[p] for p in f], [1.0] * len(f))
            else:
                per_text[t] = self._fallback(t, fallback_k)
        preds_out = [per_text[t][0] for t in texts_list]
        scores_out = [per_text[t][1] for t in texts_list]
        return preds_out, scores_out


# ---------------------------------------------------------------------------
# Pure-Python end-to-end reference extractor (parity oracle)
# ---------------------------------------------------------------------------


def assemble_entities(
    subjects: list[str], objects: list[str], min_len: int = 2
) -> tuple[list[str], list[str]]:
    """Dedup + length-filter decoded entities.

    Reference produce_submit_json_file.py:276-281: subjects/objects are
    set-deduped and entities shorter than 2 characters are dropped.
    Returned sorted for deterministic output (the reference's set()
    order is interpreter-dependent; triples are a set anyway).
    """
    subs = sorted({s for s in subjects if len(s) >= min_len})
    objs = sorted({o for o in objects if len(o) >= min_len})
    return subs, objs


def reference_extract(
    text: str,
    kb_by_predicate: Mapping[str, list[tuple[str, str]]],
    schema_types: Mapping[str, tuple[str, str]],
    threshold: float = 0.5,
    fallback_k: int = 10,
) -> list[tuple[str, str, str, str, str]]:
    """Full single-sentence pipeline: classify → fan out → tag →
    decode → dedup/filter → cartesian SUB×OBJ → attach types.

    This is the driver for golden-fixture generation and the parity
    oracle the Spark pipeline must match exactly. The cartesian product
    per (sentence, predicate) and first-listed (subject_type,
    object_type) follow produce_submit_json_file.py:275,284-288.

    Returns sorted (subject, predicate, object, subject_type,
    object_type) tuples, set-deduped.
    """
    if isinstance(kb_by_predicate, KnowledgeBase):
        kb = kb_by_predicate
        predicates, _ = kb.classify(text, threshold=threshold, fallback_k=fallback_k)
        get_pairs = kb.pairs_for
    else:
        predicates, _ = classify_predicates(
            text, kb_by_predicate, threshold=threshold, fallback_k=fallback_k
        )
        get_pairs = lambda p: kb_by_predicate.get(p, [])  # noqa: E731
    triples: set[tuple[str, str, str, str, str]] = set()
    for predicate in predicates:
        pairs = get_pairs(predicate)
        tags = bieso_tags(text, pairs)
        subjects, objects = decode_bieso(tags, text)
        subjects, objects = assemble_entities(subjects, objects)
        if not subjects or not objects:
            continue
        subject_type, object_type = schema_types.get(predicate, ("", ""))
        for s in subjects:
            for o in objects:
                triples.add((s, predicate, o, subject_type, object_type))
    return sorted(triples)
