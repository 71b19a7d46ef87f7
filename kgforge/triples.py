"""Stage T — triple construction from linked mentions (SURVEY.md §2.A A5/A6).

Emitted predicates (FIXTURES.md §2.4):
- ``resolved_as``   (entity, resolved_as, curie)         — per linked mention
- ``co_occurs``     (entity_i, co_occurs, entity_{i+1})  — adjacent mentions
                    within a turn, ordered by m_idx
- ``mentions_with`` (first entity of turn t, mentions_with, first entity of
                    the next mention-bearing turn) — cross-turn adjacency
                    under the stable (conv_id, turn_idx) ordering invariant

Dedup keeps the FIRST emission per (subj, pred, obj) in
(conv_id, turn_idx, m_idx) order — deterministic provenance, mirroring the
bot's first-win statement writes. All ordering flows through window
specifications, never physical row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgforge import canon

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "confidence"]

# Engage the two-level (per-conversation, then global) dedup aggregation
# only above this input size. The extra per-conv pass bounds map-side
# combine output by a data property (it cut the 1M-conv triples stage
# 48.4→40.2s at local[32]) but costs a full extra aggregation that is pure
# overhead at toy scale (measured +3s on the sf0.1 bench). Callers decide
# from metadata that is free to read — warehouse manifest row counts or
# parquet footers — never from a Spark count job.
TWO_LEVEL_MIN_ROWS = 2_000_000


def build_raw_triples(linked: DataFrame) -> DataFrame:
    """linked(conv_id, turn_idx, m_idx, entity_id, curie, prior) → raw triples.

    One repartition by conv_id up front: both window shapes downstream —
    per-turn (conv_id, turn_idx) and per-conversation (conv_id) — are
    satisfied by hash clustering on conv_id alone, so Spark reuses this
    single exchange instead of shuffling the linked table once per window.
    (Hot conversations are bounded per partition here: windows sort ~1e5
    rows, not the extraction-scale data.)
    """
    linked = linked.repartition("conv_id")
    resolved = linked.select(
        F.col("entity_id").alias("subj"),
        F.lit("resolved_as").alias("pred"),
        F.col("curie").alias("obj"),
        "conv_id",
        "turn_idx",
        "m_idx",
        F.col("prior").alias("confidence"),
    )

    w_turn = Window.partitionBy("conv_id", "turn_idx").orderBy("m_idx")
    co = (
        linked.withColumn("next_entity", F.lead("entity_id").over(w_turn))
        .where(F.col("next_entity").isNotNull())
        .select(
            F.col("entity_id").alias("subj"),
            F.lit("co_occurs").alias("pred"),
            F.col("next_entity").alias("obj"),
            "conv_id",
            "turn_idx",
            "m_idx",
            F.col("prior").alias("confidence"),
        )
    )

    w_rank = Window.partitionBy("conv_id", "turn_idx").orderBy("m_idx")
    firsts = (
        linked.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select("conv_id", "turn_idx", "m_idx", "entity_id", "prior")
    )
    w_conv = Window.partitionBy("conv_id").orderBy("turn_idx")
    mw = (
        firsts.withColumn("next_entity", F.lead("entity_id").over(w_conv))
        .where(F.col("next_entity").isNotNull())
        .select(
            F.col("entity_id").alias("subj"),
            F.lit("mentions_with").alias("pred"),
            F.col("next_entity").alias("obj"),
            "conv_id",
            "turn_idx",
            "m_idx",
            F.col("prior").alias("confidence"),
        )
    )
    return resolved.unionByName(co).unionByName(mw)


def dedup_triples(triples: DataFrame, two_level: bool = True) -> DataFrame:
    """First-emission dedup per (subj, pred, obj); provenance kept.

    ``two_level=False`` collapses to a single global aggregation — correct
    at any size (min is associative) but its combine output grows with
    parallelism × key popularity; use it only below TWO_LEVEL_MIN_ROWS
    (equality of both paths is tested in tests/test_invariants.py).

    Implemented as min(struct) aggregation, NOT a row_number window: head
    entities make (subj, pred, obj) groups enormously skewed (a popular
    entity's resolved_as triple recurs once per mention — millions of
    identical rows in ONE window partition = one straggler task at any
    parallelism). The aggregate gets map-side partial aggregation, which
    collapses the duplicates before the shuffle, plus AQE skew handling.
    min over the struct is lexicographic by field order, i.e. exactly the
    (conv_id, turn_idx, m_idx) first-emission rule.
    """
    # Provenance is string-encoded into ONE column. Note (plan-audited in
    # tests/test_plans.py): min over a var-length buffer — string OR struct
    # — compiles to SortAggregate either way (HashAggregateExec needs
    # fixed-width mutable buffers). What the encoding buys is a single flat
    # byte-compare per row instead of a per-field struct comparator, and
    # what the AGGREGATE (vs a row_number window) buys is the partial/final
    # pair around the Exchange: duplicates collapse map-side, so no skewed
    # (subj,pred,obj) window partition ever exists.
    # Lexicographic order == (conv_id, turn_idx, m_idx) order because the
    # numeric fields are zero-padded and \x01 sorts below any id character;
    # confidence rides at the tail (never compared — the key prefix is
    # unique) and round-trips exactly via Spark's double<->string casts.
    # Layout contract: concat_ws silently DROPS null fields, which would
    # shift split() indices and corrupt the decoded provenance — so every
    # field is coalesced to a sentinel to keep the 4-field layout invariant
    # (null turn/m_idx sort last; null conv_id sorts first as '').
    # conv_id charset: must not contain \x01 or lower code points — holds
    # for every producer in this repo ('c' + digits from corpus.py, and
    # synth.py ids are alphanumeric).
    sep = "\x01"
    prov_str = F.concat_ws(
        sep,
        F.coalesce(F.col("conv_id"), F.lit("")),
        F.coalesce(F.lpad(F.col("turn_idx").cast("string"), 10, "0"), F.lit("9999999999")),
        F.coalesce(F.lpad(F.col("m_idx").cast("string"), 10, "0"), F.lit("9999999999")),
        F.coalesce(F.col("confidence").cast("string"), F.lit("")),
    )
    # TWO-LEVEL aggregation: per-conversation min first, then global min.
    # Why: raw triples are conv_id-clustered (build_raw_triples repartitions
    # by conv_id), so a popular (subj, pred, obj) appears in MANY partitions
    # — the single-level aggregate's map-side combine then emits one partial
    # row per (key × map-partition), i.e. shuffled volume GROWS with
    # parallelism (measured: triples-stage scaling degraded as cores rose).
    # Grouping by (key, conv_id) first makes the combine output equal the
    # global distinct (key, conv_id) count — a data property, independent of
    # partition count — and the second aggregate then shuffles only that
    # bounded set. min is associative, and conv_id prefixes the encoded
    # provenance, so min-per-conv → global min == global first emission.
    if two_level:
        pre = triples.groupBy("subj", "pred", "obj", "conv_id").agg(
            F.min(prov_str).alias("prov")
        )
        final = pre.groupBy("subj", "pred", "obj").agg(F.min("prov").alias("prov"))
    else:
        final = triples.groupBy("subj", "pred", "obj").agg(
            F.min(prov_str).alias("prov")
        )
    return (
        final
        .select(
            "subj",
            "pred",
            "obj",
            F.split("prov", sep)[0].alias("conv_id"),
            F.split("prov", sep)[1].cast("int").alias("turn_idx"),
            F.split("prov", sep)[3].cast("double").alias("confidence"),
        )
    )


def final_triples(linked: DataFrame, cmap: DataFrame, two_level: bool) -> DataFrame:
    """Linked mentions → the final triple set: raw triples, remapped through
    the (entity_id → canonical_id) map, first-emission deduped. The one
    chain every triple producer shares (batch pipeline, streaming finalize,
    registered ops); each caller decides ``two_level`` from metadata that is
    free to read (see TWO_LEVEL_MIN_ROWS)."""
    return dedup_triples(
        canon.remap_triples(build_raw_triples(linked), cmap), two_level=two_level
    )


def build_nodes(triples: DataFrame) -> DataFrame:
    """Node table: canonical id + out/in degree (SURVEY.md §1.2)."""
    out_deg = triples.groupBy(F.col("subj").alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = (
        triples.where(~F.col("obj").contains(":"))
        .groupBy(F.col("obj").alias("node_id"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
    )
    return (
        out_deg.join(in_deg, "node_id", "full")
        .select(
            "node_id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )
