"""Property-based tests (hypothesis) for the extraction kernels —
invariants the reference asserts inline (SURVEY.md §5.3) plus
round-trip and determinism properties."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from information_extraction_spark.kernels.extraction import (
    bieso_tags,
    decode_bieso,
    find_occurrences,
)
from information_extraction_spark.kernels.tokenizer import (
    expand_postag_per_char,
    frame_with_special_tokens,
    pad_ids,
)

# Entities and filler from a small CJK+ASCII alphabet so collisions
# and overlaps actually happen.
_ALPHA = "ab金木水火"
entity = st.text(alphabet=_ALPHA, min_size=2, max_size=4)
filler = st.text(alphabet="、，xyz ", min_size=0, max_size=6)


@given(st.lists(st.tuples(entity, entity), min_size=1, max_size=3), filler)
@settings(max_examples=120, deadline=None)
def test_tag_length_equals_text_length(pairs, pad):
    """tagging.py:60 invariant: len(tags) == len(text)."""
    text = pad + pad.join(s + o for s, o in pairs) + pad
    tags = bieso_tags(text, pairs)
    assert len(tags) == len(text)


@given(entity, entity, filler, filler)
@settings(max_examples=120, deadline=None)
def test_decoded_entities_are_substrings(sub, obj, pre, mid):
    """check_composition.py:21-29 invariant: every decoded entity is a
    case-insensitive substring of the text."""
    text = f"{pre}{sub}{mid}{obj}"
    tags = bieso_tags(text, [(sub, obj)])
    subs, objs = decode_bieso(tags, text)
    low = text.lower()
    for e in subs + objs:
        assert e.lower() in low


@given(entity, filler, filler)
@settings(max_examples=100, deadline=None)
def test_non_overlapping_single_pair_roundtrip(e, pre, post):
    """A single (subject==object) pair in a clean context decodes back
    to the entity itself when it occurs at least twice."""
    text = f"{pre}{e}，{e}{post}"
    occs = find_occurrences(e, text)
    tags = bieso_tags(text, [(e, e)])
    subs, objs = decode_bieso(tags, text)
    if len(occs) >= 2:
        assert e.lower() in [s.lower() for s in subs]
        assert e.lower() in [o.lower() for o in objs]


@given(st.text(alphabet=_ALPHA + " ", max_size=40), entity)
@settings(max_examples=150, deadline=None)
def test_find_occurrences_correct_and_nonoverlapping(hay, needle):
    offs = find_occurrences(needle, hay)
    low_h, low_n = hay.lower(), needle.lower()
    for i, off in enumerate(offs):
        assert low_h[off : off + len(needle)] == low_n
        if i:
            assert off >= offs[i - 1] + len(needle)  # non-overlapping
    # Completeness: any position not covered that matches must overlap
    # a reported match region.
    covered = {p for off in offs for p in range(off, off + len(needle))}
    for pos in range(len(hay) - len(needle) + 1):
        if low_h[pos : pos + len(needle)] == low_n:
            assert pos in covered or any(
                pos < off + len(needle) and off < pos + len(needle)
                for off in offs
            )


@given(
    st.lists(
        st.tuples(st.text(alphabet=_ALPHA, min_size=1, max_size=3),
                  st.sampled_from(["n", "v", "w"])),
        max_size=6,
    )
)
@settings(max_examples=100, deadline=None)
def test_postag_expansion_aligns_with_chars(postag):
    """labeling/dataset.py:63 invariant: expanded word/pos streams are
    exactly as long as the concatenated text."""
    words, pos = expand_postag_per_char(postag)
    text = "".join(w for w, _ in postag)
    assert len(words) == len(pos) == len(text)


@given(st.lists(st.integers(0, 100), max_size=12), st.integers(1, 16))
@settings(max_examples=100, deadline=None)
def test_pad_ids_fixed_length_both_sides(ids, length):
    for left in (True, False):
        out = pad_ids(ids, length, pad_id=0, left=left)
        assert len(out) == length
        kept = ids[:length]
        assert (out[-len(kept):] if left and kept else out[: len(kept)]) == kept


@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=3), max_size=10),
       st.integers(4, 20))
@settings(max_examples=100, deadline=None)
def test_frame_always_exact_length_and_mask_consistent(tokens, max_len):
    toks, seg, mask = frame_with_special_tokens(tokens, max_len)
    assert len(toks) == len(seg) == len(mask) == max_len
    assert toks[0] == "[CLS]"
    n_real = sum(mask)
    assert toks[n_real - 1] == "[SEP]"
    assert all(t == "[PAD]" for t in toks[n_real:])


# --- Fused kernel vs staged composition ------------------------------------

_pred = st.sampled_from(["P1", "P2", "P3"])


@given(
    st.lists(st.tuples(_pred, entity, entity), min_size=1, max_size=6),
    st.lists(st.text(alphabet=_ALPHA + "、，xyz ", min_size=0, max_size=24),
             min_size=1, max_size=6),
)
@settings(max_examples=80, deadline=None)
def test_extract_batch_matches_staged_kernels(kb_rows, texts):
    """The fused extract_batch must equal, per (text, predicate), the
    staged composition classify → bieso_tags_fast → decode_bieso on
    random KBs and texts — including overlap/overwrite, sub==obj, and
    fallback cross-pair corners the fixtures can't enumerate."""
    from information_extraction_spark.kernels.extraction import (
        KnowledgeBase,
        decode_bieso,
    )

    kb = KnowledgeBase(kb_rows)
    fused = kb.extract_batch(texts)
    for text, units in zip(texts, fused):
        preds, _ = kb.classify(text)
        expected = []
        for p in preds:
            tags = kb.bieso_tags_fast(text, p)
            subs, objs = decode_bieso(tags, text)
            if subs and objs:
                expected.append((p, subs, objs))
        assert units == expected
    # min_entity_len variant: each unit cleaned (sorted set, len
    # filter) at memo time, empty-after-clean units dropped — must be
    # exactly the clean of the raw output.
    from information_extraction_spark.kernels.extraction import (
        assemble_entities,
    )

    cleaned = kb.extract_batch(texts, min_entity_len=2)
    for raw_units, clean_units in zip(fused, cleaned):
        expected_clean = []
        for p, subs, objs in raw_units:
            cs, co = assemble_entities(subs, objs, min_len=2)
            if cs and co:
                expected_clean.append((p, cs, co))
        assert clean_units == expected_clean


# --- Indexed KB vs the direct dict-KB kernels ------------------------------

_MIXED = "abAB金木水火"


@st.composite
def _kb_and_texts(draw):
    """A random KB over a small mixed-case alphabet whose entities
    overlap and nest, and texts built from entity pieces and filler,
    with a case-swapped copy, a duplicate and an empty text."""
    pool = draw(st.lists(st.text(alphabet=_MIXED, min_size=1, max_size=6),
                         min_size=1, max_size=6))
    cuts = draw(st.lists(st.tuples(st.sampled_from(pool), st.integers(0, 5),
                                   st.integers(1, 5)), max_size=4))
    pool += [e[i : i + n] for e, i, n in cuts if e[i : i + n]]
    ent = st.sampled_from(pool)
    rows = draw(st.lists(st.tuples(_pred, ent, ent), min_size=1, max_size=10))
    rows += [(p, e, e) for p, e in draw(st.lists(st.tuples(_pred, ent), max_size=3))]
    piece = st.one_of(ent, st.text(alphabet=_MIXED + "、 xy", max_size=3))
    texts = draw(st.lists(st.lists(piece, max_size=6).map("".join),
                          min_size=1, max_size=5))
    return rows, texts + [texts[0].swapcase(), texts[0], ""]


@given(_kb_and_texts())
@settings(max_examples=150, deadline=None)
def test_indexed_kb_matches_direct_kernels(case):
    """Per text, the batch kernels on the indexed KB equal the direct
    dict-KB classify_predicates and reference_extract: overlapping and
    nested entities, subject == object, entity lengths 1-6, duplicate
    and empty texts."""
    from information_extraction_spark.kernels.extraction import (
        KnowledgeBase,
        classify_predicates,
        reference_extract,
    )

    rows, texts = case
    by_pred: dict[str, list[tuple[str, str]]] = {}
    for p, s, o in dict.fromkeys(rows):
        by_pred.setdefault(p, []).append((s, o))
    kb = KnowledgeBase(rows)
    preds, scores = kb.classify_batch(texts)
    units = kb.extract_batch(texts, min_entity_len=2)
    for i, text in enumerate(texts):
        assert (preds[i], scores[i]) == classify_predicates(text, by_pred)
        got = {(s, p, o) for p, subs, objs in units[i] for s in subs for o in objs}
        want = {(s, p, o) for s, p, o, _, _ in reference_extract(text, by_pred, {})}
        assert got == want, text


# --- Round-3 kernels: DP segmentation, media codecs, NN checkpoint ---------


@given(
    st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=6),
        min_size=0,
        max_size=12,
    ),
    st.dictionaries(
        st.text(alphabet="abcdef", min_size=2, max_size=4),
        st.integers(min_value=1, max_value=100),
        max_size=20,
    ),
)
@settings(max_examples=120, deadline=None)
def test_dp_segment_partitions_input_exactly(words, freq):
    """The emitted tokens always concatenate back to the input (a
    lossless partition), every token is non-empty, and every
    multi-char token is a dictionary word."""
    from information_extraction_spark.kernels.tokenizer import dp_segment

    text = "".join(words)
    toks = dp_segment(text, freq)
    assert "".join(toks) == text
    assert all(toks)
    for t in toks:
        assert len(t) == 1 or t in freq


@given(
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=48),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_bmp_make_parse_roundtrip(width, height, seed):
    from information_extraction_spark.operators.multimodal import (
        make_bmp,
        parse_bmp,
    )

    payload = make_bmp(width, height, seed=seed)
    assert parse_bmp(payload) == (width, height)
    # declared file size matches actual length (format conformance)
    assert len(payload) == 54 + ((width * 3 + 3) // 4) * 4 * height


@given(
    st.integers(min_value=1, max_value=500),
    st.sampled_from([8000, 16000, 22050, 44100]),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_wav_make_parse_roundtrip(n_frames, rate, channels, seed):
    from information_extraction_spark.operators.multimodal import (
        make_wav,
        parse_wav,
    )

    payload = make_wav(n_frames, rate, channels, seed=seed)
    assert parse_wav(payload) == (rate, channels, n_frames)
    assert len(payload) == 44 + n_frames * channels * 2


@given(st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_nn_checkpoint_roundtrip_any_seed(seed):
    """save/load bit-identity holds for arbitrary seeded weights."""
    import os
    import tempfile

    import numpy as np

    from information_extraction_spark.kernels import nn

    w = nn.with_crf(
        nn.init_weights(40, n_predicates=5, dim=8, hidden=8, seed=seed),
        seed=seed + 1,
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "w.npz")
        nn.save_checkpoint(path, w)
        loaded, _ = nn.load_checkpoint(path)
    assert all(np.array_equal(loaded[k], w[k]) for k in w)
