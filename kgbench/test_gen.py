"""Generator determinism and gold, checked against direct computations.

    python3 -m pytest kgbench -q      (from the repository root)
"""

from __future__ import annotations

import itertools

import gen

TINY_KG = dict(n_convs=12, hot=20, floor=2, n_entities=40, chain=4)
TINY_DEDUP = dict(n_groups=4, group_size=4, n_single=10, n_words=60,
                  vocab=500, hot_frac=0.5)


def test_kg_input_is_a_function_of_the_seed():
    a, b = gen.kg_bulk_input(3, **TINY_KG), gen.kg_bulk_input(3, **TINY_KG)
    c = gen.kg_bulk_input(4, **TINY_KG)
    assert a.convs == b.convs and a.same_as == b.same_as
    assert a.convs != c.convs and a.same_as != c.same_as
    # only the content depends on the seed, not the amount of work
    assert a.n_turns == c.n_turns and len(a.same_as) == len(c.same_as)


def test_dedup_input_is_a_function_of_the_seed():
    a, b = gen.dedup_input(3, **TINY_DEDUP), gen.dedup_input(3, **TINY_DEDUP)
    c = gen.dedup_input(4, **TINY_DEDUP)
    assert a.docs == b.docs and a.groups == b.groups
    assert a.docs != c.docs
    assert len(a.docs) == len(c.docs)
    hot = [sum(gen.BOILERPLATE in t for t in x.docs.values()) for x in (a, c)]
    assert hot[0] == hot[1] > 0


def test_canonical_triples_match_a_direct_computation():
    inp = gen.kg_bulk_input(7, **TINY_KG)
    # components by repeated neighbour-minimum relaxation, not union-find
    label = {u: u for e in inp.same_as for u in e}
    changed = True
    while changed:
        changed = False
        for a, b in inp.same_as:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    direct = set()
    for facts in inp.convs.values():
        for f in facts:
            _, _, _, _, s, p, o = inp.kb.facts[f]
            s, o = label.get(s, s), label.get(o, o)
            if s != o:
                direct.add((s, p, o))
    assert inp.canonical_triples() == direct
    # chains of 4 need more than one min-label round
    assert len(inp.same_as) == 3 * (TINY_KG["n_entities"] // 4)


def test_gold_documents_and_edges_follow_the_turns():
    inp = gen.kg_bulk_input(7, **TINY_KG)
    rows = inp.turn_rows(inp.convs)
    by_conv: dict[str, list[str]] = {}
    for c, t, text in zip(rows["conv_id"], rows["turn_idx"], rows["text"]):
        assert t == len(by_conv.setdefault(c, []))
        by_conv[c].append(text)
    assert inp.documents() == {c: " ".join(t) for c, t in by_conv.items()}
    per_conv = inp.conv_triples()
    assert sum(inp.edge_convs().values()) == len(per_conv)


def test_dedup_gold_pairs_are_exactly_the_pairs_above_threshold():
    inp = gen.dedup_input(5, **TINY_DEDUP)
    sh = inp.shingles()
    direct = {
        (a, b): gen.jaccard(sh[a], sh[b])
        for a, b in itertools.combinations(sorted(inp.docs), 2)
        if gen.jaccard(sh[a], sh[b]) >= inp.threshold
    }
    assert inp.gold_pairs() == direct
    # every planted group is a clique of pairs
    n = TINY_DEDUP["group_size"]
    assert len(direct) == TINY_DEDUP["n_groups"] * n * (n - 1) // 2


def test_components_and_label_propagation():
    pairs = {(1, 2), (2, 3), (5, 6)}
    assert gen.components(pairs, [1, 2, 3, 4, 5, 6]) == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    sym = pairs | {(b, a) for a, b in pairs}
    # path 1-2-3, synchronous: round 1 gives 1->2, 2->1 (tie 1 vs 3 ->
    # smaller), 3->2; round 2 gives 1->1, 2->2, 3->1
    assert gen.label_propagation(sym, 1) == {1: 2, 2: 1, 3: 2, 5: 6, 6: 5}
    assert gen.label_propagation(sym, 2) == {1: 1, 2: 2, 3: 1, 5: 5, 6: 6}
