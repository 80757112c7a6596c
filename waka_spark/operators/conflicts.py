"""P23-P24 — entity-mention conflict resolution (exact reference semantics).

Reference (kg_construction.py:111-192): after best-triple selection, the
entities appearing in triples get their mention lists arbitrated:

- P23 intra-entity (kg_construction.py:119-140): within each entity, for
  every overlapping span pair (over a *snapshot* of the mention list, while
  removals hit the live list), drop the mention with the larger
  Levenshtein(label, text); overlap is inclusive on both ends (kg.py:90-91).
- P24 cross-entity loop (kg_construction.py:142-157): repeatedly find all
  (entity, mention) pairs whose spans overlap across different entities,
  score each ``(1 - lev/maxlen) * (1/|mentions|) * len(text) * score``
  (kg_construction.py:159-170), remove the lowest-scoring pair's mention,
  until conflict-free. Then triples whose subject/object lost every mention
  die, and mention-less entities are pruned (kg_construction.py:151-155).

This is inherently iterative with data-dependent order — per *conversation*
the data is tiny, so every participating conversation goes through one
``applyInArrow`` grouped map over the native ``mentions array<struct>``
column: one Python crossing, exact Python semantics, the entities' schema
in and out. The reference's two nondeterminisms — ``set``-ordered conflict
lists and ``list(set())`` entity order — are replaced by explicit
tie-breaks (documented in SURVEY.md §4): entities ordered by url; conflicts
ordered by (score, url, start_idx, end_idx).

Cross-conversation entity resolution at whole-graph scale is the separate
union-find pass (plans/unionfind.py).
"""

from __future__ import annotations

import heapq
from collections import defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waka_spark.plans.pins import pin


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _overlaps(m1: dict, m2: dict) -> bool:
    # inclusive overlap predicate, kg.py:90-91
    return m1["end_idx"] >= m2["start_idx"] and m2["end_idx"] >= m1["start_idx"]


def _label_distance(label: str | None, text: str) -> int:
    return _levenshtein(label if label is not None else "", text)


def _conflict_score(entity: dict, mention: dict) -> float:
    # kg_construction.py:159-170
    label = entity["label"]
    text = mention["text"] or ""
    dist = _label_distance(label, text)
    denom = max(len(label) if label is not None else 0, len(text))
    dist_score = 1 - (dist / denom) if denom else 0.0
    num_mentions = 1 / len(entity["mentions"])
    return dist_score * num_mentions * len(text) * (mention["score"] or 0.0)


def _overlapping_pairs(
    items: list[tuple[int, int, int, object]]
) -> list[tuple[object, object]]:
    """All pairs of inclusively-overlapping intervals via a sweep line:
    O(m log m + k) instead of the reference's all-pairs scan — the pair
    *set* is identical, so downstream semantics are unchanged.

    items: (start, end, seq, payload); seq preserves insertion order so
    callers can re-order pairs to match reference iteration order.
    """
    pairs: list[tuple[object, object]] = []
    active: list[tuple[int, int, int, object]] = []
    for it in sorted(items, key=lambda x: (x[0], x[1], x[2])):
        start = it[0]
        active = [a for a in active if a[1] >= start]  # inclusive overlap
        pairs.extend((a[3], it[3]) for a in active)
        active.append(it)
    return pairs


def _find_conflicts(entities: list[dict]) -> list[tuple[dict, dict]]:
    """kg_construction.py:173-192 — cross-entity overlapping (entity,
    mention) pairs, found by interval sweep over all live mentions."""
    items = []
    seq = 0
    for k, ent in enumerate(entities):
        for m in ent["mentions"]:
            if m["start_idx"] is None or m["end_idx"] is None:
                continue
            items.append((m["start_idx"], m["end_idx"], seq, (k, ent, m)))
            seq += 1
    conflicts: list[tuple[dict, dict]] = []
    seen: set[tuple[int, int]] = set()
    for (k1, e1, m1), (k2, e2, m2) in _overlapping_pairs(items):
        if k1 == k2:
            continue  # cross-entity only
        for ent, men in ((e1, m1), (e2, m2)):
            key = (id(ent), id(men))
            if key not in seen:
                seen.add(key)
                conflicts.append((ent, men))
    return conflicts


def _static_score(entity: dict, mention: dict) -> float:
    """The mention-count-independent factor of _conflict_score:
    _conflict_score(e, m) == _static_score(e, m) / len(e["mentions"])."""
    label = entity["label"]
    text = mention["text"] or ""
    dist = _label_distance(label, text)
    denom = max(len(label) if label is not None else 0, len(text))
    dist_score = 1 - (dist / denom) if denom else 0.0
    return dist_score * len(text) * (mention["score"] or 0.0)


def _resolve_p24_rescan(live: list[dict]) -> None:
    """Reference-shaped loop (full conflict re-scan per removal) — fallback
    for the never-observed case of a negative mention score, where the
    monotone-score argument behind the lazy heap does not hold."""
    conflicts = _find_conflicts(live)
    while conflicts:
        conflicts.sort(key=lambda pair: (
            _conflict_score(pair[0], pair[1]),
            pair[0]["url"] or "",
            pair[1]["start_idx"] if pair[1]["start_idx"] is not None else -1,
            pair[1]["end_idx"] if pair[1]["end_idx"] is not None else -1,
        ))
        entity, mention = conflicts[0]
        entity["mentions"] = [m for m in entity["mentions"] if m is not mention]
        live = [e for e in live if e["mentions"]]
        conflicts = _find_conflicts(live)


def _resolve_p24(live: list[dict]) -> None:
    """Incremental cross-entity fixpoint: identical removal sequence to
    _resolve_p24_rescan (see _resolve_group comment for the monotonicity
    proof), O((m + pairs) log m) instead of O(removals * m log m)."""
    items = []
    nodes: list[tuple[int, dict, dict, float]] = []  # (ent_idx, ent, mention, static)
    for k, ent in enumerate(live):
        for m in ent["mentions"]:
            if m["start_idx"] is None or m["end_idx"] is None:
                continue
            nid = len(nodes)
            static = _static_score(ent, m)
            if static < 0:
                _resolve_p24_rescan(live)
                return
            nodes.append((k, ent, m, static))
            items.append((m["start_idx"], m["end_idx"], nid, nid))

    adj: dict[int, set[int]] = defaultdict(set)
    for n1, n2 in _overlapping_pairs(items):
        if nodes[n1][0] == nodes[n2][0]:
            continue  # cross-entity only
        adj[n1].add(n2)
        adj[n2].add(n1)

    ent_version = [0] * len(live)

    def entry(nid: int) -> tuple:
        k, ent, m, static = nodes[nid]
        return (
            static / len(ent["mentions"]),
            ent["url"] or "",
            m["start_idx"],
            m["end_idx"],
            nid,
            ent_version[k],
        )

    heap = [entry(nid) for nid in adj]
    heapq.heapify(heap)
    removed: set[int] = set()
    while heap:
        _, _, _, _, nid, ver = heapq.heappop(heap)
        if nid in removed or not adj.get(nid):
            continue  # already pruned, or no longer in any conflict
        k, ent, m, _static = nodes[nid]
        if ver != ent_version[k]:
            # stale (the entity lost a mention since push -> score grew);
            # old key was a lower bound, so recompute and re-push
            heapq.heappush(heap, entry(nid))
            continue
        ent["mentions"] = [mm for mm in ent["mentions"] if mm is not m]
        ent_version[k] += 1
        removed.add(nid)
        for nb in adj.pop(nid):
            adj[nb].discard(nid)


def _resolve_group(table: pa.Table) -> pa.Table:
    """One conversation's entities in, its surviving entities out (same
    schema); only ``mentions`` changes, every other column passes through."""
    entities = sorted(
        table.to_pylist(), key=lambda e: (e["url"] is None, e["url"] or "")
    )

    # ---- P23: intra-entity overlap pruning over a snapshot ----------------
    # the sweep finds the overlapping-pair set; processing the pairs in
    # (i, j) snapshot order reproduces the reference's nested-loop order
    # exactly (kg_construction.py:119-140)
    for entity in entities:
        snapshot = list(entity["mentions"] or ())
        items = [
            (m["start_idx"], m["end_idx"], i, i)
            for i, m in enumerate(snapshot)
            if m["start_idx"] is not None and m["end_idx"] is not None
        ]
        overlap_idx = sorted(
            (min(i, j), max(i, j)) for i, j in _overlapping_pairs(items)
        )
        for i, j in overlap_idx:
            mi, mj = snapshot[i], snapshot[j]
            di = _label_distance(entity["label"], mi["text"] or "")
            dj = _label_distance(entity["label"], mj["text"] or "")
            loser = mi if di > dj else mj
            entity["mentions"] = [
                m for m in entity["mentions"] if m is not loser
            ]

    # ---- P24: cross-entity fixpoint loop ----------------------------------
    # Incremental formulation of kg_construction.py:142-157. The reference
    # re-scans for conflicts after every removal; here the cross-entity
    # overlap graph is built once and maintained under deletions. The
    # selected pair each iteration is identical because
    #   score = static_part / len(entity.mentions)
    # with static_part >= 0, and len() only ever shrinks — so scores only
    # increase over time and a lazy min-heap (entity-version stamps,
    # recompute-and-repush on stale pop) always surfaces the true global
    # minimum. Turns O(removals * m log m) per conversation into
    # O((m + pairs) log m) — the Zipf-hot conversations stop being the
    # longest task of the whole stage.
    live = [e for e in entities if e["mentions"]]
    _resolve_p24(live)

    survivors = [e for e in entities if e["mentions"]]
    return pa.Table.from_pylist(survivors, schema=table.schema)


def resolve_conflicts(entities: DataFrame) -> DataFrame:
    """entities(conv_id, url, ..., mentions array<struct>) → the surviving
    entities with pruned mention lists, in the input's schema."""
    return entities.groupBy("conv_id").applyInArrow(
        _resolve_group, entities.schema
    )


def apply_conflict_resolution(
    fused_triples: DataFrame, entities: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Run conflict resolution over the entities referenced by the fused
    triples; return (surviving triples, surviving entities-with-mentions).

    Triples survive iff both endpoints kept at least one mention
    (kg_construction.py:151-155) — realized as two semi joins on the
    resolved entities, which are pinned so the grouped map runs once for
    both outputs.
    """
    used_urls = (
        fused_triples.select("conv_id", F.col("subj_url").alias("url"))
        .unionByName(fused_triples.select("conv_id", F.col("obj_url").alias("url")))
        .distinct()
    )
    participating = entities.join(
        used_urls, on=["conv_id", "url"], how="left_semi"
    )
    entities_out = pin(resolve_conflicts(participating))

    surviving_urls = entities_out.select("conv_id", "url")
    triples_out = (
        fused_triples
        .join(
            surviving_urls.withColumnRenamed("url", "subj_url"),
            on=["conv_id", "subj_url"], how="left_semi",
        )
        .join(
            surviving_urls.withColumnRenamed("url", "obj_url"),
            on=["conv_id", "obj_url"], how="left_semi",
        )
    )
    return triples_out, entities_out
