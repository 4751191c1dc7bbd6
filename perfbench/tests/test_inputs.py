"""Input generation is a pure function of the seed."""

import filecmp
import os

import pytest

import workloads


def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    spec = workloads.SPECS[workload]
    a = workloads.make_inputs(spec, 7, str(tmp_path / "a"), scale=0.05)
    b = workloads.make_inputs(spec, 7, str(tmp_path / "b"), scale=0.05)
    names = _files(a.dir)
    assert names == _files(b.dir) and len(names) == 5
    match, mismatch, errors = filecmp.cmpfiles(a.dir, b.dir, names, shallow=False)
    assert match == names, (mismatch, errors)


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_different_seed_gives_different_inputs(tmp_path, workload):
    spec = workloads.SPECS[workload]
    a = workloads.make_inputs(spec, 7, str(tmp_path / "a"), scale=0.05)
    b = workloads.make_inputs(spec, 8, str(tmp_path / "b"), scale=0.05)
    assert not filecmp.cmp(a.path("transcripts"), b.path("transcripts"), shallow=False)
    assert a.turns != b.turns


def test_bulk_alias_graph_is_chain_rule_over_surfaces():
    import inputs

    docs = inputs.documents(3, 50)
    kb, _ = inputs.base_kb(docs)
    entities = sorted({e for _, s, o in kb for e in (s, o)})
    pairs = inputs.linking_alias_pairs(3, entities, 3000)
    surfaces = {x for p in pairs for x in p}
    assert {e.lower() for e in entities} <= surfaces
    assert len(pairs) == sum(1 for i in range(3000 - 1) if i % 3 != 2)


def test_grown_kb_reaches_entity_target():
    import inputs

    docs = inputs.documents(4, 200)
    turns = inputs.transcripts(docs)
    kb, _ = inputs.base_kb(docs)
    grown = inputs.grown_kb(4, turns, kb, 2000)
    assert len({e for _, s, o in grown for e in (s, o)}) >= 2000
    assert set(kb) <= set(grown)
    lengths = {len(e) for _, s, o in grown if (_, s, o) not in set(kb) for e in (s, o)}
    assert min(lengths) >= 3 and max(lengths) <= 17


def test_expected_pr_matches_hand_count():
    import checks

    predicted = {"t": {("a", "p", "x"), ("b", "p", "y"), ("c", "p", "z")}}
    gold = [("t", "a", "p", "x"), ("t", "bb", "p", "y"), ("t", "d", "p", "w")]
    got = checks.expected_pr(predicted, gold, [("b", "bb")])
    # a/x direct, b/y via alias b->bb, c/z wrong; gold d/w missed.
    assert got["correct_sum"] == 2 and got["predict_sum"] == 3 and got["recall_sum"] == 3
    assert got["precision"] == got["recall"] == round(2 / 3, 4)


def test_union_find_labels_take_component_minimum():
    import checks

    labels = checks.union_find_labels([("d", "c"), ("c", "b"), ("x", "y"), ("q", "q")])
    assert labels == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}
    assert checks.canonical_mismatches([("D", "b"), ("《y》", "y"), ("zz", "zz")], labels) == [("《y》", "y", "x")]


def test_tail_percentile_keeps_ten_samples_beyond():
    import checks

    assert checks.tail([3.0, 1.0, 2.0]) == (3.0, 100)
    values = [float(i) for i in range(1, 101)]
    value, pct = checks.tail(values)
    assert pct == 90 and value == 90.0 and sum(v > value for v in values) == 10
