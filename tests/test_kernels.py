"""Golden tests for the pure extraction kernels.

The two BIESO fixtures are the worked examples embedded in the
reference at labeling/tagging.py:65-85 (《端脑》 multi-actor sentence,
《碑》 book sentence); the BIO fixture is the docstring example at
produce_submit_json_file.py:186-189.
"""

from __future__ import annotations

from information_extraction_spark.kernels import (
    KnowledgeBase,
    assemble_entities,
    bieso_tags,
    classify_predicates,
    decode_bieso,
    decode_bio_tokens,
    find_occurrences,
    reference_extract,
)

DUANNAO_TEXT = (
    "《端脑》改编自有妖气同名漫画《端脑》，是由搜狐视频、有妖气、留白影视出品，"
    "于中中执导，朱元冰、蒋依依、杨奇煜、黄一琳、谢佳见、赵奕欢等人主演的科幻悬疑网络剧"
)
DUANNAO_STARRING = [
    ("端脑", "蒋依依"),
    ("端脑", "朱元冰"),
    ("端脑", "赵奕欢"),
    ("端脑", "黄一琳"),
    ("端脑", "杨奇煜"),
    ("端脑", "谢佳见"),
]

BEI_TEXT = "《碑》是2009年由上海人民出版社出版的图书，作者是维克多·谢阁兰"


def test_find_occurrences_case_insensitive_non_overlapping():
    assert find_occurrences("ab", "xxAByyab") == [2, 6]
    assert find_occurrences("aa", "aaaa") == [0, 2]  # non-overlapping
    assert find_occurrences("a.c", "a.c abc") == [0]  # literal, escaped
    assert find_occurrences("", "abc") == []


def test_bieso_tagging_starring_example():
    """主演 work unit of the 端脑 example (tagging.py:65-71)."""
    tags = bieso_tags(DUANNAO_TEXT, DUANNAO_STARRING)
    assert len(tags) == len(DUANNAO_TEXT)
    # Subject 端脑 occurs twice, both tagged B/E (len 2).
    for off in find_occurrences("端脑", DUANNAO_TEXT):
        assert tags[off] == "B-SUB" and tags[off + 1] == "E-SUB"
    # Each 3-char actor tagged B/I/E-OBJ.
    for actor in ("朱元冰", "蒋依依", "杨奇煜", "黄一琳", "谢佳见", "赵奕欢"):
        off = find_occurrences(actor, DUANNAO_TEXT)[0]
        assert tags[off : off + 3] == ["B-OBJ", "I-OBJ", "E-OBJ"]
    subs, objs = decode_bieso(tags, DUANNAO_TEXT)
    subs, objs = assemble_entities(subs, objs)
    assert subs == ["端脑"]
    assert objs == sorted(
        ["朱元冰", "蒋依依", "杨奇煜", "黄一琳", "谢佳见", "赵奕欢"]
    )


def test_bieso_single_char_entity_gets_S_tag_and_is_filtered():
    """碑 example (tagging.py:73-85): 1-char subject → S-SUB, then the
    len>=2 rule (produce_submit_json_file.py:278-281) drops it."""
    tags = bieso_tags(BEI_TEXT, [("碑", "维克多·谢阁兰")])
    off = find_occurrences("碑", BEI_TEXT)[0]
    assert tags[off] == "S-SUB"
    obj_off = find_occurrences("维克多·谢阁兰", BEI_TEXT)[0]
    assert tags[obj_off] == "B-OBJ"
    assert tags[obj_off + 6] == "E-OBJ"
    subs, objs = decode_bieso(tags, BEI_TEXT)
    assert subs == ["碑"]
    subs, objs = assemble_entities(subs, objs)
    assert subs == []  # filtered: len 1
    assert objs == ["维克多·谢阁兰"]


def test_subject_equals_object_odd_occurrence_rule():
    """改编自 spo of the 端脑 example: subject == object == 端脑
    (tagging.py:25-26): object takes odd-indexed occurrences, which
    overwrite because the object loop runs second."""
    tags = bieso_tags(DUANNAO_TEXT, [("端脑", "端脑")])
    offs = find_occurrences("端脑", DUANNAO_TEXT)
    assert len(offs) == 2
    assert tags[offs[0]] == "B-SUB" and tags[offs[0] + 1] == "E-SUB"
    assert tags[offs[1]] == "B-OBJ" and tags[offs[1] + 1] == "E-OBJ"
    subs, objs = decode_bieso(tags, DUANNAO_TEXT)
    assert subs == ["端脑"] and objs == ["端脑"]


def test_bieso_two_char_and_long_spans():
    text = "abXcdefY"
    tags = bieso_tags(text, [("ab", "cdef")])
    assert tags == ["B-SUB", "E-SUB", "O", "B-OBJ", "I-OBJ", "I-OBJ", "E-OBJ", "O"]


def test_decode_bio_wordpiece_merge():
    """produce_submit_json_file.py:186-189 docstring example."""
    tokens = list("紫菊花草是菊目，菊科，松果菊属的植物")
    labels = (
        ["B-SUB", "I-SUB", "I-SUB", "I-SUB", "O", "B-OBJ", "I-OBJ"]
        + ["O"] * 11
    )
    assert decode_bio_tokens(tokens, labels) == [("SUB", "紫菊花草"), ("OBJ", "菊目")]


def test_decode_bio_wordpiece_hash_merge_and_cls_sep():
    tokens = ["新", "地", "球", "ge", "##nes", "##is", "x"]
    labels = ["[CLS]", "B-SUB", "I-SUB", "I-SUB", "I-SUB", "[##WordPiece]", "[##WordPiece]", "[SEP]", "O"]
    assert decode_bio_tokens(tokens, labels) == [("SUB", "新地球genesis")]


def test_classifier_threshold_and_fallback():
    kb = {
        "主演": [("端脑", "朱元冰")],
        "作者": [("碑", "维克多·谢阁兰")],
        "出版社": [("碑", "上海人民出版社")],
    }
    preds, scores = classify_predicates(DUANNAO_TEXT, kb)
    assert preds == ["主演"] and scores[0] == 1.0
    preds2, _ = classify_predicates(BEI_TEXT, kb)
    assert sorted(preds2) == ["作者", "出版社"]
    # Nothing matches → top-k fallback returns all 3 (k=10 > |kb|),
    # deterministically ordered.
    preds3, scores3 = classify_predicates("nothing here", kb)
    assert len(preds3) == 3 and max(scores3) < 0.5
    preds3b, _ = classify_predicates("nothing here", kb)
    assert preds3 == preds3b


def test_knowledgebase_parity_with_direct_classifier():
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("作者", "碑", "维克多·谢阁兰"),
        ("改编自", "端脑", "端脑"),
        ("出版社", "碑", "上海人民出版社"),
    ]
    kbase = KnowledgeBase(entries)
    by_pred: dict[str, list[tuple[str, str]]] = {}
    for p, s, o in entries:
        by_pred.setdefault(p, []).append((s, o))
    for text in (DUANNAO_TEXT, BEI_TEXT, "no match at all", ""):
        assert kbase.classify(text) == classify_predicates(text, by_pred)


def test_reference_extract_end_to_end():
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("改编自", "端脑", "端脑"),
        ("作者", "碑", "维克多·谢阁兰"),
    ]
    kbase = KnowledgeBase(entries)
    schema_types = {
        "主演": ("影视作品", "人物"),
        "改编自": ("影视作品", "作品"),
        "作者": ("图书作品", "人物"),
    }
    triples = reference_extract(DUANNAO_TEXT, kbase, schema_types)
    assert ("端脑", "主演", "朱元冰", "影视作品", "人物") in triples
    assert ("端脑", "主演", "蒋依依", "影视作品", "人物") in triples
    assert ("端脑", "改编自", "端脑", "影视作品", "作品") in triples
    # 碑 is a 1-char subject → its work unit yields no triples.
    assert not [t for t in triples if t[1] == "作者"]


def test_classify_batch_parity_with_loop():
    """Batch classification must equal the per-row path element-wise,
    including fallback rows and empty strings."""
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("作者", "碑", "维克多·谢阁兰"),
        ("改编自", "端脑", "端脑"),
        ("出版社", "碑", "上海人民出版社"),
        ("relx", "ab", "cd ef"),
    ]
    kbase = KnowledgeBase(entries)
    texts = [
        DUANNAO_TEXT,
        BEI_TEXT,
        "nothing matching here",
        "",
        "ab and cd ef together",
        "AB with CD EF uppercase",
        DUANNAO_TEXT,  # duplicate row
    ]
    bp, bs = kbase.classify_batch(texts)
    for i, t in enumerate(texts):
        lp, ls = kbase.classify(t)
        assert bp[i] == lp, f"row {i}"
        assert bs[i] == ls, f"row {i}"


def test_bieso_tags_fast_parity():
    """Prefiltered tagging must equal the reference-semantics tagger
    for every (text, predicate), including sub==obj and misses."""
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("主演", "端脑", "蒋依依"),
        ("主演", "不在", "也不在"),
        ("改编自", "端脑", "端脑"),
        ("作者", "碑", "维克多·谢阁兰"),
        ("作者", "碑", "不存在的人"),
    ]
    kbase = KnowledgeBase(entries)
    for text in (DUANNAO_TEXT, BEI_TEXT, "no match", ""):
        for pred in ("主演", "改编自", "作者", "缺席"):
            assert kbase.bieso_tags_fast(text, pred) == bieso_tags(
                text, kbase.pairs_for(pred)
            ), (text[:10], pred)


def test_dotted_capital_i_lowercases_like_str_lower():
    """Presence lowercases with ``str.lower`` on every path. 'İ' (U+0130)
    lowers to 'i̇' (two code points) under ``str.lower`` but to 'i'
    under Arrow's utf8_lower; a batch path using the latter dropped
    this pair to the fallback while ``classify`` fired it."""
    kbase = KnowledgeBase([("rel00", "İstanbul", "Ankara")])
    text = "İstanbul und Ankara"
    assert kbase.entities_present(text) == {"i̇stanbul", "ankara"}
    assert kbase.classify(text) == (["rel00"], [1.0])
    assert kbase.classify_batch([text]) == ([["rel00"]], [[1.0]])
    assert kbase.extract_batch([text]) == [[("rel00", ["İstanbul"], ["Ankara"])]]
    assert reference_extract(text, kbase.by_predicate, {}) == [
        ("İstanbul", "rel00", "Ankara", "", "")
    ]


def test_empty_string_entity_is_present_everywhere_but_tags_nothing():
    kbase = KnowledgeBase([("p", "", "x"), ("q", "a", "a")])
    assert kbase.entities_present("zz") == {""}
    assert kbase.entities_present("") == {""}
    preds, _ = kbase.classify_batch(["x", "", "a b"])
    # ("", "x") fires on "x" alone; "" never fires anything by itself.
    assert preds[0] == ["p"] and preds[2] == ["q"]
    assert preds[1] == kbase.classify("")[0] == ["q", "p"]
    assert kbase.extract_batch(["x", "", "aXa", "a a a"]) == [
        [],
        [],
        [("q", ["a"], ["a"])],
        [("q", ["a", "a"], ["a"])],
    ]
    assert kbase.bieso_tags_fast("x", "p") == bieso_tags("x", [("", "x")])


def test_empty_knowledge_base():
    kbase = KnowledgeBase([])
    assert kbase.entities_present("anything") == set()
    assert kbase.classify("anything") == ([], [])
    assert kbase.classify_batch(["anything", ""]) == ([[], []], [[], []])
    assert kbase.extract_batch(["anything", ""]) == [[], []]
    assert kbase.bieso_tags_fast("ab", "p") == ["O", "O"]


def test_batch_where_nothing_fires_takes_fallback_on_every_row():
    entries = [
        ("主演", "端脑", "朱元冰"),
        ("作者", "碑", "维克多·谢阁兰"),
        ("relx", "ab", "cd"),
    ]
    kbase = KnowledgeBase(entries)
    by_pred: dict[str, list[tuple[str, str]]] = {}
    for p, s, o in entries:
        by_pred.setdefault(p, []).append((s, o))
    texts = ["ab only", "only cd", "端脑 alone", "", "ab only"]
    preds, scores = kbase.classify_batch(texts)
    for i, text in enumerate(texts):
        assert (preds[i], scores[i]) == classify_predicates(text, by_pred)
        assert max(scores[i]) < 0.5 and len(preds[i]) == 3
    # Fallback units are tagged too; one-sided matches yield no unit.
    assert kbase.extract_batch(texts) == [[] for _ in texts]


def test_batch_spanning_several_slices_matches_single_texts():
    """The batch kernels probe a long batch slice by slice; results must
    not depend on where a text falls."""
    from information_extraction_spark.kernels.extraction import _SLICE_TEXTS

    entries = [
        ("主演", "端脑", "朱元冰"),
        ("relx", "ab", "cd ef"),
        ("rely", "cd", "ab"),
    ]
    kbase = KnowledgeBase(entries)
    pieces = [DUANNAO_TEXT, "ab and cd ef", "CD then AB", "nothing", ""]
    texts = [f"{pieces[i % 5]} {i}" for i in range(2 * _SLICE_TEXTS + 7)]
    preds, scores = kbase.classify_batch(texts)
    units = kbase.extract_batch(texts)
    for i, text in enumerate(texts):
        assert (preds[i], scores[i]) == kbase.classify(text)
        assert units[i] == KnowledgeBase(entries).extract_batch([text])[0]
