"""Pure-Python expectations the engine's outputs are checked against."""

from __future__ import annotations


def normalize(x: str) -> str:
    """calc_pr's entity normalization: lowercase, strip one enclosing
    《》 pair."""
    low = x.lower()
    if len(low) >= 2 and low.startswith("《") and low.endswith("》"):
        return low[1:-1]
    return low


def union_find_labels(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """node -> smallest node of its component, over the undirected alias
    graph (lowercased, self loops dropped) -- the contract of
    ``operators.linking.canonical_mapping``."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for c, a in pairs:
        c, a = c.lower(), a.lower()
        if c == a:
            continue
        rc, ra = find(c), find(a)
        if rc != ra:
            parent[max(rc, ra)] = min(rc, ra)
        parent.setdefault(c, c)
        parent.setdefault(a, a)
    return {n: find(n) for n in parent}


def canonical_mismatches(
    observed: list[tuple[str, str]], labels: dict[str, str]
) -> list[tuple[str, str, str]]:
    """(surface, observed, expected) for every graph surface whose
    canonical id differs from the union-find label (surfaces outside
    the alias graph are their own id)."""
    bad = []
    for surface, canonical in observed:
        key = normalize(surface)
        want = labels.get(key, key)
        if canonical != want:
            bad.append((surface, canonical, want))
    return bad


def expected_pr(
    predicted: dict[str, set[tuple[str, str, str]]],
    gold_rows: list[tuple[str, str, str, str]],
    alias_pairs: list[tuple[str, str]],
) -> dict[str, float]:
    """calc_pr's counts and rounded P/R/F1 for ``predicted`` text ->
    {(s, p, o)} against gold (text, s, p, o) rows: texts outside the
    gold set are ignored; a predicted triple is correct when some
    (alias(s), p, alias(o)) is gold, where alias(x) = {x} plus the
    aliases x is canonical for."""
    gold: dict[str, set[tuple[str, str, str]]] = {}
    for t, s, p, o in gold_rows:
        gold.setdefault(t, set()).add((normalize(s), p, normalize(o)))
    expand: dict[str, set[str]] = {}
    for c, a in alias_pairs:
        expand.setdefault(c.lower(), set()).add(a.lower())
    correct = predict = 0
    for t, g in gold.items():
        pred = {(normalize(s), p, normalize(o)) for s, p, o in predicted.get(t, ())}
        predict += len(pred)
        for s, p, o in pred:
            ss = {s} | expand.get(s, set())
            oo = {o} | expand.get(o, set())
            correct += any((sa, p, oa) in g for sa in ss for oa in oo)
    recall_sum = sum(len(g) for g in gold.values())
    precision = correct / predict if predict else 0.0
    recall = correct / recall_sum if recall_sum else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "correct_sum": float(correct),
        "predict_sum": float(predict),
        "recall_sum": float(recall_sum),
        "precision": round(precision, 4),
        "recall": round(recall, 4),
        "f1": round(f1, 4),
    }


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    k = max(1, -(-len(v) * pct // 100))
    return v[int(k) - 1]


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples no percentile has
    ten beyond it and the maximum (p100) is reported."""
    n = len(values)
    if n < 11:
        return max(values), 100
    pct = int(100 * (n - 10) // n)
    return percentile(values, pct), pct
