"""Seeded inputs for the benchmark workloads, with their gold.

Every input is a pure function of ``(seed, size)``; the gold is derived
from the same arithmetic, never from the engine's output. Sizes (rows,
turns, documents) do not depend on the seed, only the content does, so
timings from different seeds measure the same amount of work.

- ``kg_bulk`` builds on ``waka_spark.synth.build_kb``: a perfect-matching
  fact KB with fixed-width labels. A turn verbalizes the fact
  ``H(seed, conv, turn) % n_facts``, as ``synth.conv_fact_assignments``
  does with ``xxhash64(conv, turn)``, plus the seed term.
- ``corpus_dedup`` plants near-duplicate groups (one-word edits of a base
  text, so Jaccard >= the threshold inside a group) over random base texts
  that share only a boilerplate phrase (a hot shingle set).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from waka_spark import synth

# labels are f"{stem} {i:04d}": above 10,000 a 5-digit label contains a
# 4-digit one and gold (exact rule matches) would no longer hold
MAX_ENTITIES = 10_000


def h64(seed: int, *parts) -> int:
    """Stable 64-bit hash of (seed, parts)."""
    key = repr((seed, *parts)).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def zipf_lengths(n: int, hot: int, floor: int) -> list[int]:
    """Conversation lengths by rank: ``max(floor, hot // rank)``."""
    return [max(floor, hot // r) for r in range(1, n + 1)]


# ------------------------------------------------------------- transcripts

TRANSCRIPT_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC")),
])

_ROLES = ("user", "assistant", "tool")


@dataclass
class KGInput:
    """Generated transcripts plus gold, for one seed."""

    kb: synth.SynthKB
    # conv_id -> fact ids in turn order
    convs: dict[str, list[int]]
    # planted same-as url pairs
    same_as: list[tuple[str, str]] = field(default_factory=list)

    @property
    def n_turns(self) -> int:
        return sum(len(f) for f in self.convs.values())

    def fact_urls(self, fact_id: int) -> tuple[str, str, str]:
        _, _, _, _, s, p, o = self.kb.facts[fact_id]
        return s, p, o

    def turn_rows(self, conv_ids) -> dict[str, list]:
        cols: dict[str, list] = {n: [] for n in TRANSCRIPT_SCHEMA.names}
        for conv_id in conv_ids:
            base_ts = 1_700_000_000 + h64(0, conv_id) % 100_000
            for turn_idx, fact_id in enumerate(self.convs[conv_id]):
                _, s, phrase, o, _, _, _ = self.kb.facts[fact_id]
                cols["conv_id"].append(conv_id)
                cols["turn_idx"].append(turn_idx)
                cols["role"].append(_ROLES[turn_idx % 3])
                cols["text"].append(f"{s} {phrase} {o}.")
                cols["tool"].append("kb_search" if turn_idx % 3 == 2 else None)
                cols["ts"].append((base_ts + turn_idx) * 1_000_000)
        return cols

    def conv_triples(self) -> set[tuple[str, str, str, str]]:
        """Gold per-conversation triples (conv_id, subj, pred, obj)."""
        return {
            (c, *self.fact_urls(f))
            for c, facts in self.convs.items() for f in facts
        }

    def documents(self) -> dict[str, str]:
        """Gold assembled document text per conversation."""
        return {
            c: " ".join(self.turn_rows([c])["text"]) for c in self.convs
        }

    def canonical_map(self) -> dict[str, str]:
        """url -> min url of its same-as component (plain union-find)."""
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.same_as:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    def canonical_triples(self) -> set[tuple[str, str, str]]:
        """Gold of ``canonicalize_graph``: endpoints rewritten to their
        component minimum, self-loops dropped, deduplicated globally."""
        canon = self.canonical_map()
        out = set()
        for _, s, p, o in self.conv_triples():
            s, o = canon.get(s, s), canon.get(o, o)
            if s != o:
                out.add((s, p, o))
        return out

    def edge_convs(self) -> dict[tuple[str, str, str], int]:
        """Gold of the merged edges table: identity -> n_convs."""
        out: dict[tuple[str, str, str], int] = {}
        for _, s, p, o in self.conv_triples():
            out[(s, p, o)] = out.get((s, p, o), 0) + 1
        return out


def _assign_facts(seed: int, kb, conv_ids, lengths) -> dict[str, list[int]]:
    return {
        c: [h64(seed, c, t) % kb.n_facts for t in range(n)]
        for c, n in zip(conv_ids, lengths)
    }


def kg_bulk_input(seed: int, n_convs: int, hot: int, floor: int,
                  n_entities: int, chain: int) -> KGInput:
    """Zipf-skewed conversations over the KB, plus same-as chains of
    ``chain`` entity urls (so union-find needs several rounds)."""
    if n_entities > MAX_ENTITIES:
        raise ValueError(f"n_entities must be <= {MAX_ENTITIES}")
    kb = synth.build_kb(n_entities)
    rng = random.Random(seed)
    lengths = zipf_lengths(n_convs, hot, floor)
    rng.shuffle(lengths)
    conv_ids = [f"conv-{i:06d}" for i in range(n_convs)]
    urls = [u for _, u, _ in kb.entities]
    rng.shuffle(urls)
    same_as = [
        (urls[i], urls[i + 1])
        for start in range(0, len(urls) - chain + 1, chain)
        for i in range(start, start + chain - 1)
    ]
    return KGInput(kb, _assign_facts(seed, kb, conv_ids, lengths),
                   same_as=same_as)


def write_transcripts(inp: KGInput, path: str, n_files: int = 4) -> int:
    """Write the transcripts as parquet; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for i in range(n_files):
        conv_ids = list(inp.convs)[i::n_files]
        table = pa.table(inp.turn_rows(conv_ids), schema=TRANSCRIPT_SCHEMA)
        out = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, out)
        total += os.path.getsize(out)
    return total


# ------------------------------------------------------------- corpus dedup

BOILERPLATE = ("please read the attached terms of service and privacy "
               "notice before replying to this thread")


def word_shingles(text: str, n: int = 3) -> set[str]:
    """Python mirror of ``operators.dedup.word_shingles`` for
    lower-case, single-spaced text."""
    words = text.split(" ")
    return {" ".join(words[i:i + n])
            for i in range(max(len(words) - n, 0) + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    """Rounded as the operator rounds it (6 places)."""
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


@dataclass
class DedupInput:
    docs: dict[int, str]
    groups: list[list[int]]      # planted near-duplicate groups
    threshold: float

    def shingles(self) -> dict[int, set[str]]:
        return {d: word_shingles(t) for d, t in self.docs.items()}

    def gold_pairs(self) -> dict[tuple[int, int], float]:
        """(doc_a, doc_b) -> jaccard for planted pairs at or above the
        threshold (by construction, every pair inside a group)."""
        sh = self.shingles()
        out = {}
        for g in self.groups:
            for i, a in enumerate(g):
                for b in g[i + 1:]:
                    j = jaccard(sh[a], sh[b])
                    if j >= self.threshold:
                        out[(min(a, b), max(a, b))] = j
        return out


def dedup_input(seed: int, n_groups: int, group_size: int, n_single: int,
                n_words: int, vocab: int, hot_frac: float,
                threshold: float = 0.8) -> DedupInput:
    """``n_groups`` groups of ``group_size`` one-word edits of a base text,
    ``n_single`` unrelated texts; a ``hot_frac`` share of all documents
    ends with the boilerplate phrase. Doc ids are shuffled by seed."""
    rng = random.Random(seed)
    words = [f"w{h64(seed, 'v', i) % 10**8:08d}" for i in range(vocab)]

    def text() -> list[str]:
        return [rng.choice(words) for _ in range(n_words)]

    n_docs = n_groups * group_size + n_single
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    docs: dict[int, list[str]] = {}
    groups = []
    it = iter(ids)
    for _ in range(n_groups):
        base = text()
        # distinct edit positions, spaced so edits never share a shingle
        pos = rng.sample(range(0, n_words, 3), group_size)
        g = []
        for p in pos:
            d = next(it)
            variant = list(base)
            variant[p] = rng.choice(words)
            docs[d] = variant
            g.append(d)
        groups.append(sorted(g))
    for d in it:
        docs[d] = text()
    # whole groups take the boilerplate or not, so it never splits a group;
    # fixed counts keep the hot shingles' frequency the same for every seed
    singles = ids[n_groups * group_size:]
    hot = {d for g in rng.sample(groups, round(hot_frac * n_groups))
           for d in g}
    hot.update(rng.sample(singles, round(hot_frac * n_single)))
    out = {
        d: " ".join(w) + (f" {BOILERPLATE}" if d in hot else "")
        for d, w in docs.items()
    }
    return DedupInput(out, groups, threshold)


def write_docs(inp: DedupInput, path: str, n_files: int = 4) -> int:
    os.makedirs(path, exist_ok=True)
    ids = sorted(inp.docs)
    total = 0
    for i in range(n_files):
        part = ids[i::n_files]
        table = pa.table({
            "doc_id": pa.array(part, pa.int64()),
            "text": pa.array([inp.docs[d] for d in part], pa.string()),
        })
        out = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, out)
        total += os.path.getsize(out)
    return total


def components(pairs, nodes) -> dict[int, int]:
    """node -> min node of its connected component over ``pairs``;
    nodes in no pair are their own component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def label_propagation(edges: set[tuple[int, int]], n_iter: int) -> dict[int, int]:
    """Python mirror of ``operators.graph.label_propagation``: synchronous
    rounds, each node takes the most frequent in-neighbour label, ties to
    the smallest label; nodes without in-edges keep theirs."""
    nodes = {x for e in edges for x in e}
    inn: dict[int, list[int]] = {n: [] for n in nodes}
    for s, d in edges:
        inn[d].append(s)
    label = {n: n for n in nodes}
    for _ in range(n_iter):
        new = {}
        for n in nodes:
            if not inn[n]:
                new[n] = label[n]
                continue
            cnt: dict[int, int] = {}
            for s in inn[n]:
                cnt[label[s]] = cnt.get(label[s], 0) + 1
            new[n] = min(cnt, key=lambda c: (-cnt[c], c))
        label = new
    return label
