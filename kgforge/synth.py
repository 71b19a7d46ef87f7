"""Deterministic pipeline fixtures (FIXTURES.md §2) — transcripts, entity
dictionary, and same-as xref edges, synthesized byte-for-byte reproducibly.

No external data: everything derives from ``random.Random(seed)`` (never
numpy global state). The same rows feed BOTH the Spark pipeline and the
pure-Python reference oracle (tests/oracle_ref.py), so P/R is measured on
identical inputs.

Structure mirrors what the real 10^12-turn corpus would stress:
- Zipf-skewed conversation lengths plus a few HOT conversations (the mandated
  salted-repartition / skew-splitting path, BASELINE.json north_star).
- Zipf-skewed entity usage (head entities appear in a large fraction of
  turns — linking-side key skew).
- Multi-word surfaces where one surface is a strict prefix of another
  ("alpha beta" vs "alpha beta gamma") — forces leftmost-LONGEST semantics.
- ~5% ambiguous surfaces (2–3 entity_ids) — forces rank-1 disambiguation
  (highest prior, then lexicographic entity_id).
- Same-as clusters of size 1–6 plus 2 long chains and 1 star — stresses the
  CC fixpoint's O(log d) star contraction (SURVEY.md §4.3).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

CURIE_PREFIXES = ("GENE", "CHEM", "DOID", "MESH")
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "code", "sql", "browser")

# Word stock for surface forms: pronounceable, distinct from template filler.
_CONS = "bcdfglmnprstvz"
_VOW = "aeiou"

TEMPLATES = (
    "I think {S} relates to {S} here.",
    "Tool output: {S} resolved via lookup.",
    "The record for {S} mentions {S} and {S} in passing.",
    "No idea what {S} means.",
    "Compare {S} with {S}.",
    "Summary: nothing found.",
    "As discussed, {S} is canonical.",
)


def _word(rng: random.Random) -> str:
    n = rng.randint(2, 4)
    return "".join(
        rng.choice(_CONS) + rng.choice(_VOW) for _ in range(n)
    )


@dataclass
class Corpus:
    transcripts: list[tuple]  # (conv_id, turn_idx, role, text, tool, ts)
    dictionary: list[tuple]  # (surface, entity_id, curie, prior)
    xref_edges: list[tuple]  # (src, dst, source)

    transcript_cols: tuple = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
    dictionary_cols: tuple = ("surface", "entity_id", "curie", "prior")
    xref_cols: tuple = ("src", "dst", "source")

    extras: dict = field(default_factory=dict)


def make_dictionary(
    rng: random.Random, n_entities: int = 800, ambiguous_frac: float = 0.05
) -> tuple[list[tuple], list[str]]:
    """Returns (dictionary rows, surface list). ~2.5 surfaces per entity with
    aliases; prefix-nested multi-word surfaces; ~5% ambiguous surfaces."""
    rows: list[tuple] = []
    surfaces: list[str] = []
    seen: set[str] = set()
    entity_ids = [f"E{i:05d}" for i in range(n_entities)]
    for i, eid in enumerate(entity_ids):
        base = _word(rng)
        while base in seen:
            base = _word(rng)
        cand = [base]
        # 40%: a multi-word alias; half of those also get the longer nested form
        if rng.random() < 0.4:
            two = f"{base} {_word(rng)}"
            cand.append(two)
            if rng.random() < 0.5:
                cand.append(f"{two} {_word(rng)}")
        for s in cand:
            if s in seen:
                continue
            seen.add(s)
            prior = round(0.5 + 0.5 * rng.random(), 6)
            curie = f"{CURIE_PREFIXES[i % len(CURIE_PREFIXES)]}:{1000 + i}"
            rows.append((s, eid, curie, prior))
            surfaces.append(s)
    # ambiguity: re-attach some single-word surfaces to 1–2 extra entities
    n_amb = int(len(surfaces) * ambiguous_frac)
    for k in range(n_amb):
        s = surfaces[rng.randrange(len(surfaces))]
        eid = entity_ids[rng.randrange(n_entities)]
        if any(r[0] == s and r[1] == eid for r in rows):
            continue
        prior = round(0.5 + 0.5 * rng.random(), 6)
        curie = f"{CURIE_PREFIXES[k % len(CURIE_PREFIXES)]}:{9000 + k}"
        rows.append((s, eid, curie, prior))
    return rows, surfaces


def make_xref_edges(rng: random.Random, n_entities: int = 800) -> list[tuple]:
    """Same-as clusters (size 1–6) + 2 chains (len 50) + 1 star (degree 100).

    Edges only ever connect entities inside one structure, so ground-truth
    components are exactly the generated groups (recomputable by union-find).
    """
    entity_ids = [f"E{i:05d}" for i in range(n_entities)]
    rng.shuffle(entity_ids)
    edges: list[tuple] = []
    i = 0
    # 2 chains of 50
    for c in range(2):
        chain = entity_ids[i : i + 50]
        i += 50
        for a, b in zip(chain, chain[1:]):
            edges.append((a, b, f"chain{c}"))
    # 1 star of 100
    star = entity_ids[i : i + 101]
    i += 101
    for leaf in star[1:]:
        edges.append((star[0], leaf, "star"))
    # clusters of 1–6 from the rest
    while i < len(entity_ids):
        size = rng.randint(1, 6)
        group = entity_ids[i : i + size]
        i += size
        for a, b in zip(group, group[1:]):
            edges.append((a, b, "cluster"))
    return edges


def make_transcripts(
    rng: random.Random,
    surfaces: list[str],
    n_convs: int = 200,
    n_hot: int = 3,
    hot_turns: tuple[int, int] = (5000, 20000),
    max_turns: int = 400,
) -> list[tuple]:
    """Zipf-ish turn counts in [2, max_turns] + n_hot hot conversations."""
    base_ts = datetime(2024, 1, 1)
    # Zipf-skewed surface picker: index ~ floor(n * u^3) concentrates on head
    ns = len(surfaces)

    def pick_surface() -> str:
        return surfaces[int(ns * rng.random() ** 3) % ns]

    rows: list[tuple] = []
    for c in range(n_convs):
        conv_id = f"c{c:08d}"
        if c < n_hot:
            n_turns = rng.randint(*hot_turns)
        else:
            # Zipf(a≈1.2) via inverse-power transform, clipped
            n_turns = min(max_turns, max(2, int(2 / (rng.random() ** 0.8))))
        t = base_ts + timedelta(minutes=c * 17)
        for turn in range(n_turns):
            role = ROLES[(c + turn) % 3]
            tool = TOOLS[(c * 7 + turn) % 4] if role == "tool" else "none"
            n_sent = rng.randint(1, 2)
            parts = []
            for _ in range(n_sent):
                tpl = TEMPLATES[rng.randrange(len(TEMPLATES))]
                while "{S}" in tpl:
                    tpl = tpl.replace("{S}", pick_surface(), 1)
                parts.append(tpl)
            text = " ".join(parts)
            t += timedelta(seconds=rng.randint(1, 90))
            rows.append((conv_id, turn, role, text, tool, t))
    return rows


def make_corpus(
    seed: int = 42,
    n_convs: int = 200,
    n_entities: int = 800,
    n_hot: int = 3,
    hot_turns: tuple[int, int] = (5000, 20000),
    max_turns: int = 400,
) -> Corpus:
    rng = random.Random(seed)
    dictionary, surfaces = make_dictionary(rng, n_entities=n_entities)
    edges = make_xref_edges(rng, n_entities=n_entities)
    transcripts = make_transcripts(
        rng,
        surfaces,
        n_convs=n_convs,
        n_hot=n_hot,
        hot_turns=hot_turns,
        max_turns=max_turns,
    )
    return Corpus(transcripts=transcripts, dictionary=dictionary, xref_edges=edges)


def tiny_corpus(seed: int = 42) -> Corpus:
    """Test-sized corpus: same structure, smaller hot conversations so the
    full pytest pipeline (Spark + pure-Python oracle) runs in seconds.
    Hot convs still exceed the test hot_threshold (tests pass threshold=200)."""
    return make_corpus(
        seed=seed,
        n_convs=60,
        n_entities=300,
        n_hot=2,
        hot_turns=(400, 900),
        max_turns=60,
    )


def to_spark(spark, corpus: Corpus):
    """Corpus → (transcripts, dictionary, xref_edges) DataFrames with the
    contract schemas (conv_id:string, turn_idx:int, …, ts:timestamp)."""
    tr = spark.createDataFrame(
        corpus.transcripts,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    d = spark.createDataFrame(
        corpus.dictionary,
        schema="surface string, entity_id string, curie string, prior double",
    )
    e = spark.createDataFrame(
        corpus.xref_edges, schema="src string, dst string, source string"
    )
    return tr, d, e
