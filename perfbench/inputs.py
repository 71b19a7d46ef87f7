"""Seeded inputs and reference outputs for the benchmark workloads.

Every input derives from the ``--seed`` argument; the program under test
only ever sees the generated tables. References come from code that does not
share the path being measured: ``tests/oracle_ref.py`` (an independent
pure-Python pipeline) for triples, and each registry key's DuckDB oracle SQL
for the operator suite.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf tables' document vocabulary: 30 words drawn uniformly, 10-100
# words per document; a few documents repeat an earlier one plus "dup".
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
N_HOT = 3


def write_documents(out_dir: str, seed: int, n_docs: int) -> None:
    """A ``documents`` parquet file shaped like the sf tables that
    ``kgforge.tables`` loads (same schema, vocabulary and value ranges)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    pq.write_table(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))


def pipeline_inputs(seed: int, n_convs: int, hot_turns: int, n_entities: int = 2000):
    """(transcripts, dictionary, xref_edges) rows in the style of
    ``kgforge.synth_spark`` "sparse" corpora, generated in this process.

    Same lexicon (``synth.make_dictionary``/``make_xref_edges``), roles,
    tools and shape as ``synth_spark.bench_inputs``: Zipf conversation
    lengths capped at 400 turns, 2-5 sentences of 8-16 filler words per turn
    (filler starts with "x", which no surface does), and a head-skewed
    surface inserted into half the sentences. Generating here instead of in
    Spark keeps set-up at about a second; the 3 hot conversations have
    exactly ``hot_turns`` turns so the input size does not swing with the
    seed."""
    import random

    from kgforge.synth import _word, make_dictionary, make_xref_edges

    rng = random.Random(seed)
    dictionary, surfaces = make_dictionary(rng, n_entities=n_entities)
    edges = make_xref_edges(rng, n_entities=n_entities)
    filler = ["x" + _word(rng) for _ in range(4096)]
    ns = len(surfaces)
    roles, tools = ("user", "assistant", "tool"), ("search", "code", "sql", "browser")
    base_epoch = 1704067200  # 2024-01-01 UTC
    rows = []
    for c in range(n_convs):
        crng = random.Random((seed << 32) ^ c)
        n_turns = hot_turns if c < N_HOT else min(400, max(2, int(2 / (crng.random() ** 0.8))))
        t = base_epoch + c * 1020
        for turn in range(n_turns):
            role = roles[(c + turn) % 3]
            words: list[str] = []
            for _ in range(crng.randint(2, 5)):
                words.extend(crng.choices(filler, k=crng.randint(8, 16)))
                if crng.random() < 0.5:
                    words.insert(crng.randrange(len(words)),
                                 surfaces[int(ns * crng.random() ** 3) % ns])
            t += crng.randint(1, 90)
            rows.append((f"c{c:08d}", turn, role, " ".join(words),
                         tools[(c * 7 + turn) % 4] if role == "tool" else "none", t))
    return rows, dictionary, edges


def write_pipeline_inputs(out_dir: str, transcripts, dictionary, edges) -> None:
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*transcripts))
    pq.write_table(pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()),
        "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()),
        "ts": pa.array(np.array(cols[5], dtype="datetime64[s]"), pa.timestamp("us")),
    }), os.path.join(out_dir, "transcripts.parquet"))
    cols = list(zip(*dictionary))
    pq.write_table(pa.table({
        "surface": pa.array(cols[0], pa.string()),
        "entity_id": pa.array(cols[1], pa.string()),
        "curie": pa.array(cols[2], pa.string()),
        "prior": pa.array(cols[3], pa.float64()),
    }), os.path.join(out_dir, "dictionary.parquet"))
    cols = list(zip(*edges))
    pq.write_table(pa.table({
        "src": pa.array(cols[0], pa.string()),
        "dst": pa.array(cols[1], pa.string()),
        "source": pa.array(cols[2], pa.string()),
    }), os.path.join(out_dir, "xref_edges.parquet"))


def read_pipeline_inputs(spark, in_dir: str):
    return tuple(
        spark.read.parquet(os.path.join(in_dir, f"{name}.parquet"))
        for name in ("transcripts", "dictionary", "xref_edges")
    )


def reference_triples(transcripts, dictionary, edges) -> set[tuple]:
    """(subj, pred, obj) set of tests/oracle_ref.run_reference."""
    from tests import oracle_ref

    ref = oracle_ref.run_reference(transcripts, dictionary, edges)
    return {(s, p, o) for s, p, o, *_ in ref["triples"]}


def warehouse_triples(wh_root: str) -> set[tuple]:
    """(subj, pred, obj) set of the warehouse's latest triples snapshot,
    read from its parquet files (no Spark job)."""
    from kgforge.io.tableio import Warehouse

    snap = Warehouse(wh_root).latest_snapshot("triples")
    files = glob.glob(os.path.join(wh_root, "triples", snap, "**", "*.parquet"), recursive=True)
    out: set[tuple] = set()
    for f in files:
        t = pq.read_table(f, columns=["subj", "pred", "obj"])
        out.update(zip(*(t.column(i).to_pylist() for i in range(3))))
    return out
