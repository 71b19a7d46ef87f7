"""The session cache (kgforge.corpus.cached) and the one extract → link →
triples chain built on it.

Every cut a registered op shares lives in ONE store keyed by (Spark
application, sf_dir, kind). These tests pin its three properties — the
chain's matcher runs once per session, the store is bounded across
applications and sf dirs, and no other module keeps its own per-session
memo.
"""

from __future__ import annotations

import os
import pathlib
import shutil

from kgforge import corpus, extract

SF_TINY = "/root/testdata/sf0.001"


def _sf_copy(tmp_path: pathlib.Path) -> str:
    """A fresh sf dir holding sf0.001's documents: its cuts start cold."""
    shutil.copy(os.path.join(SF_TINY, "documents.parquet"), tmp_path)
    return str(tmp_path)


def test_chain_keys_plan_the_matcher_once(spark, tmp_path, monkeypatch):
    """The six keys that read linked mentions share the one cached cut, so
    the matcher UDF is planned once per session, not once per key."""
    from kgforge.registry import all_ops

    sf = _sf_copy(tmp_path)
    planned = []
    real = extract.extract_mentions

    def counting(*args, **kwargs):
        planned.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(extract, "extract_mentions", counting)
    ops = all_ops()
    for key in ("pipe_triples", "graph_remap", "graph_nodes", "udf_link",
                "udf_score_arrow", "kg_fusion"):
        assert ops[key].fn(spark, sf).count() > 0, key
    assert len(planned) == 1


def test_cache_is_bounded_per_application_and_sf_dir(spark, tmp_path):
    first = corpus.derive_transcripts(spark, SF_TINY)
    assert first.is_cached

    # an entry of a stopped application is dropped, not unpersisted: its
    # SparkContext is gone (a bare object() would raise on unpersist())
    foreign = ("app-stopped", SF_TINY, "transcripts")
    corpus._CACHE[foreign] = object()
    assert corpus.derive_transcripts(spark, SF_TINY) is first
    assert foreign not in corpus._CACHE

    # a second sf dir unpersists the first one's cuts
    other = _sf_copy(tmp_path)
    second = corpus.derive_transcripts(spark, other)
    assert not first.is_cached
    assert {key[1] for key in corpus._CACHE} == {other}

    # a repeat call returns the same DataFrame object
    assert corpus.derive_transcripts(spark, other) is second
    assert second.is_cached


def test_application_id_keys_one_module():
    """Only the session cache may key on the Spark application: a second
    module reading applicationId is a hand-rolled memo coming back."""
    import kgforge

    root = pathlib.Path(kgforge.__file__).parent
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "applicationId" in p.read_text()
    )
    assert hits == ["corpus.py"]


# Persist call sites under kgforge/. Shared cuts belong in corpus.cached and
# loop cuts in localCheckpoint leaves; lower this when a persist goes away.
PERSIST_SITES = 25


def test_persist_call_sites_do_not_grow():
    """A new .persist()/.cache() call site is a cut the session cache does
    not own: route it through corpus.cached or a localCheckpoint instead."""
    import re

    import kgforge

    root = pathlib.Path(kgforge.__file__).parent
    sites = sum(
        len(re.findall(r"\.(?:persist|cache)\(", p.read_text()))
        for p in root.rglob("*.py")
    )
    assert sites <= PERSIST_SITES, f"{sites} persist call sites > {PERSIST_SITES}"
