"""Spark extraction stages: classify → fan out → tag → decode →
assemble triples.

Replaces the reference's five OS processes communicating through
line-aligned text files (SURVEY.md §3.1) with one declarative
DataFrame DAG over an explicitly keyed table. All per-text computation
runs in iterator-of-batches pandas UDFs (Arrow); the KB — the
deterministic stand-in for model weights — ships to executors once as
a broadcast variable, exactly how model weights would
(run_predicate_classification.py's estimator held them in the TF
session; Spark broadcasts serve the same role per executor).

Scale notes (100 TB): classify/tag are narrow maps — no shuffle; the
only shuffles in the whole extraction DAG are the input's initial
repartition and the final write. The schema dimension (50 rows) is
always broadcast (J1); the per-row fan-out (J6) is two explodes, not
a join.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from information_extraction_spark.kernels.extraction import (
    KnowledgeBase,
    decode_bieso,
)

THRESHOLD = 0.5  # reference sigmoid threshold (run_predicate_classification.py:797)
FALLBACK_K = 10  # top-k fallback (prepare_data_for_labeling_infer.py:23-33)
MIN_ENTITY_LEN = 2  # len>=2 emit filter (produce_submit_json_file.py:278-281)


# Per-Python-worker KnowledgeBase cache keyed by broadcast id: Spark
# reuses python worker processes across tasks, so the index builds
# once per worker instead of once per partition (matters when the KB
# is large — the model-weight analog of loading weights once per
# executor).
_KB_CACHE: dict[object, KnowledgeBase] = {}


def _kb_from_broadcast(kb_broadcast) -> KnowledgeBase:
    # Worker-side Broadcast objects expose their spill path (stable
    # per broadcast id); fall back to object identity driver-side.
    key = getattr(kb_broadcast, "_path", None) or id(kb_broadcast)
    kb = _KB_CACHE.get(key)
    if kb is None:
        kb = KnowledgeBase(kb_broadcast.value)
        _KB_CACHE.clear()  # hold at most one KB per worker
        _KB_CACHE[key] = kb
    return kb


def broadcast_kb(spark, kb_df: DataFrame):
    """Collect the (predicate, subject, object) KB to the driver and
    broadcast it. The KB is a dimension (model-weight analog), not a
    fact table — at 100 TB the facts are the transcripts; a KB of even
    10^7 entries broadcasts fine (~hundreds of MB). Each Python worker
    then builds the KnowledgeBase index once, in memory linear in the KB;
    kernel time per batch depends on the text length, the number of
    distinct entity lengths and the entities that occur, not on the
    number of entries."""
    entries = [
        (r["predicate"], r["subject"], r["object"])
        for r in kb_df.select("predicate", "subject", "object").collect()
    ]
    return spark.sparkContext.broadcast(entries)


def ordered_transcripts(df: DataFrame) -> DataFrame:
    """Enforce stable per-conversation turn ordering (W1).

    The reference depends on file order (SequentialSampler,
    classification/predict.py:27-28); we depend only on the explicit
    (conv_id, turn_idx) key: duplicates collapse to the latest ``ts``
    and a dense ``turn_rank`` is materialized for order-sensitive
    consumers. This is the north-rule "stable turn ordering per
    conv_id via window functions".
    """
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("ts").desc_nulls_last()
    )
    rank_w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("turn_rank", F.row_number().over(rank_w))
    )


_CLASSIFIED_FIELDS = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("predicates", T.ArrayType(T.StringType())),
        T.StructField("scores", T.ArrayType(T.FloatType())),
    ]
)


def classify_stage(
    df: DataFrame,
    kb_broadcast,
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
) -> DataFrame:
    """Stage-1 multi-label predicate prediction (SURVEY §2.9 kernel).

    mapInPandas over Arrow batches; empty turns are filtered first
    (P12, labeling/dataset.py:52-53) so the kernel never sees them.
    Narrow map — zero shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb = _kb_from_broadcast(kb_broadcast)
        # The batch path assumes fired(1.0) > threshold AND that no
        # pseudo-score (< 0.5) clears it; outside [0.5, 1.0) fall back
        # to the exact per-row classify.
        vectorized = 0.5 <= threshold < 1.0
        for pdf in batches:
            if vectorized:
                preds_col, scores_col = kb.classify_batch(
                    pdf["text"], threshold=threshold, fallback_k=fallback_k
                )
            else:
                preds_col, scores_col = [], []
                for text in pdf["text"]:
                    preds, scores = kb.classify(
                        text, threshold=threshold, fallback_k=fallback_k
                    )
                    preds_col.append(preds)
                    scores_col.append(scores)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "text": pdf["text"],
                    "predicates": preds_col,
                    "scores": scores_col,
                }
            )

    pruned = df.select("conv_id", "turn_idx", "text").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return pruned.mapInPandas(run, schema=_CLASSIFIED_FIELDS)


def fanout_predicates(classified: DataFrame) -> DataFrame:
    """Explode one row per (turn, predicate) work unit (J6 fan-out,
    prepare_data_for_labeling_infer.py:63-74). Narrow — no shuffle."""
    return classified.select(
        "conv_id",
        "turn_idx",
        "text",
        F.explode(F.arrays_zip("predicates", "scores")).alias("ps"),
    ).select(
        "conv_id",
        "turn_idx",
        "text",
        F.col("ps.predicates").alias("predicate"),
        F.col("ps.scores").alias("score"),
    )


_TAGGED_FIELDS = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)


def tag_stage(fanned: DataFrame, kb_broadcast) -> DataFrame:
    """Stage-2 BIESO span tagging per (turn, predicate) work unit
    (labeling/tagging.py:9-51 semantics via kernels.bieso_tags)."""
    from information_extraction_spark.kernels.extraction import bieso_tags

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb = _kb_from_broadcast(kb_broadcast)
        for pdf in batches:
            tags_col = [
                bieso_tags(text, kb.pairs_for(pred))
                for text, pred in zip(pdf["text"], pdf["predicate"])
            ]
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "text": pdf["text"],
                    "predicate": pdf["predicate"],
                    "tags": tags_col,
                }
            )

    return fanned.select(
        "conv_id", "turn_idx", "text", "predicate"
    ).mapInPandas(run, schema=_TAGGED_FIELDS)


_SPANS_TYPE = T.StructType(
    [
        T.StructField("subjects", T.ArrayType(T.StringType())),
        T.StructField("objects", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(_SPANS_TYPE)
def _decode_spans(tags: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Vectorized BIESO decode (labeling/predict.py:50-71 semantics)."""
    subs, objs = [], []
    for t, x in zip(tags, text):
        s, o = decode_bieso(list(t), x)
        subs.append(s)
        objs.append(o)
    return pd.DataFrame({"subjects": subs, "objects": objs})


def decode_stage(tagged: DataFrame) -> DataFrame:
    """Decode tag sequences to entity span lists (W2)."""
    return tagged.withColumn(
        "spans", _decode_spans(F.col("tags"), F.col("text"))
    ).select(
        "conv_id",
        "turn_idx",
        "text",
        "predicate",
        F.col("spans.subjects").alias("subjects"),
        F.col("spans.objects").alias("objects"),
    )


_DECODED_FIELDS = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField("subjects", T.ArrayType(T.StringType())),
        T.StructField("objects", T.ArrayType(T.StringType())),
    ]
)


def tag_decode_stage(fanned: DataFrame, kb_broadcast) -> DataFrame:
    """Fused stage-2: BIESO tagging + span decode in one Arrow pass.

    Semantically identical to ``decode_stage(tag_stage(...))`` (tested
    for parity) but avoids materializing the per-character tag arrays
    through Arrow and avoids Catalyst re-evaluating the decode UDF on
    both sides of the emptiness filter — one Python round-trip per
    work unit instead of three.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb = _kb_from_broadcast(kb_broadcast)
        for pdf in batches:
            subs_col, objs_col = [], []
            for text, pred in zip(pdf["text"], pdf["predicate"]):
                tags = kb.bieso_tags_fast(text, pred)
                subs, objs = decode_bieso(tags, text)
                subs_col.append(subs)
                objs_col.append(objs)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "text": pdf["text"],
                    "predicate": pdf["predicate"],
                    "subjects": subs_col,
                    "objects": objs_col,
                }
            )

    return fanned.select(
        "conv_id", "turn_idx", "text", "predicate"
    ).mapInPandas(run, schema=_DECODED_FIELDS)


def classify_tag_decode_stage(
    df: DataFrame,
    kb_broadcast,
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
    min_entity_len: int | None = None,
) -> DataFrame:
    """Fully fused stage-1+2 fast path: classify → fan out → tag →
    decode in ONE mapInPandas pass (KnowledgeBase.extract_batch).

    Emits only work units whose decoded spans are non-empty on both
    sides — the only units that can produce triples; assemble_triples
    re-filters after its dedup/length pass, so
    ``assemble_triples(classify_tag_decode_stage(x))`` is triple-exact
    with the staged ``classify_stage → fanout_predicates →
    tag_decode_stage`` path (parity-tested). Only valid for
    0.5 <= threshold < 1.0 (the kernel's fired/fallback split assumes
    hit score 1.0 fires and pseudo-scores < 0.5 never do) — the
    pipeline falls back to the staged path otherwise, and a direct
    caller outside that regime gets a ValueError rather than silently
    different predicate sets.

    ``min_entity_len``: when set, the kernel emits PRE-CLEANED units
    (set-deduped, length-filtered, sorted — assemble_entities run at
    memo time, once per distinct text) and drops units that clean to
    empty; pair with ``assemble_triples(..., pre_cleaned=True)`` to
    skip the equivalent JVM array lambdas over every unit row.
    Triple-exact with the uncleaned path (parity-tested) because
    assemble_triples' clean is idempotent.
    """
    if not (0.5 <= threshold < 1.0):
        raise ValueError(
            "classify_tag_decode_stage requires 0.5 <= threshold < 1.0; "
            f"got {threshold} — use classify_stage + tag_decode_stage"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb = _kb_from_broadcast(kb_broadcast)
        for pdf in batches:
            per_row = kb.extract_batch(
                pdf["text"],
                threshold=threshold,
                fallback_k=fallback_k,
                min_entity_len=min_entity_len,
            )
            conv, ti, tx, pr, su, ob = [], [], [], [], [], []
            for cid, t, text, units in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"], per_row
            ):
                for predicate, subjects, objects in units:
                    conv.append(cid)
                    ti.append(t)
                    tx.append(text)
                    pr.append(predicate)
                    su.append(subjects)
                    ob.append(objects)
            # Explicit object dtype: unlike the 1:1 stages, this one
            # FILTERS rows, so a batch can legitimately produce zero
            # units — a bare empty list would default to float64
            # columns, which Arrow cannot convert to list<string>
            # (observed as a streaming micro-batch crash).
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(conv, dtype=object),
                    "turn_idx": pd.array(ti, dtype="Int32"),
                    "text": pd.Series(tx, dtype=object),
                    "predicate": pd.Series(pr, dtype=object),
                    "subjects": pd.Series(su, dtype=object),
                    "objects": pd.Series(ob, dtype=object),
                }
            )

    pruned = df.select("conv_id", "turn_idx", "text").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    return pruned.mapInPandas(run, schema=_DECODED_FIELDS)


_UNIT_FIELDS = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("predicate", T.StringType()),
        T.StructField("subjects", T.ArrayType(T.StringType())),
        T.StructField("objects", T.ArrayType(T.StringType())),
    ]
)


def extract_units_per_text(
    texts: DataFrame,
    kb_broadcast,
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
    min_entity_len: int | None = None,
) -> DataFrame:
    """The fused classify→tag→decode kernel keyed by TEXT alone:
    (text, predicate, subjects, objects) per fired work unit, for a
    DataFrame of DISTINCT texts.

    This is the collapse-duplicates fast path's kernel half
    (plans/pipeline.py): extraction is a pure function of the text,
    so a corpus with duplicate turn text — the dominant redundancy in
    agent transcripts ("ok", tool boilerplate, retried turns) — pays
    the kernel once per distinct text globally, not once per copy
    (the per-partition memo in KnowledgeBase.extract_batch only
    collapses copies that land in the same partition). Same
    fired/fallback regime restriction as classify_tag_decode_stage;
    emits PRE-CLEANED units when ``min_entity_len`` is set.
    """
    if not (0.5 <= threshold < 1.0):
        raise ValueError(
            "extract_units_per_text requires 0.5 <= threshold < 1.0; "
            f"got {threshold} — use classify_stage + tag_decode_stage"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kb = _kb_from_broadcast(kb_broadcast)
        for pdf in batches:
            per_row = kb.extract_batch(
                pdf["text"],
                threshold=threshold,
                fallback_k=fallback_k,
                min_entity_len=min_entity_len,
            )
            tx, pr, su, ob = [], [], [], []
            for text, units in zip(pdf["text"], per_row):
                for predicate, subjects, objects in units:
                    tx.append(text)
                    pr.append(predicate)
                    su.append(subjects)
                    ob.append(objects)
            yield pd.DataFrame(
                {
                    "text": pd.Series(tx, dtype=object),
                    "predicate": pd.Series(pr, dtype=object),
                    "subjects": pd.Series(su, dtype=object),
                    "objects": pd.Series(ob, dtype=object),
                }
            )

    return texts.select("text").mapInPandas(run, schema=_UNIT_FIELDS)


def first_listed_schema(schemas_df: DataFrame) -> DataFrame:
    """Collapse the 50-row schema dim to first-listed
    (subject_type, object_type) per predicate — the reference takes
    ``schemas_dict[predicate][0]`` (produce_submit_json_file.py:275,
    dual-schema predicate at :63)."""
    w = Window.partitionBy("predicate").orderBy("schema_id")
    return (
        schemas_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("predicate", "subject_type", "object_type")
    )


def assemble_triples(
    decoded: DataFrame,
    schemas_df: DataFrame,
    min_entity_len: int = MIN_ENTITY_LEN,
    pre_cleaned: bool = False,
) -> DataFrame:
    """Dedup + length-filter entities, cartesian SUB×OBJ, attach
    first-listed schema types.

    Reference produce_submit_json_file.py:276-288: set-dedup, drop
    len<2 entities, emit every subject×object pair with the
    predicate's first-listed types. The cartesian product is two
    explodes within the row — no join, no shuffle; the schema dim is
    a broadcast hash join (J1).

    ``pre_cleaned=True``: the caller guarantees the entity arrays are
    ALREADY set-deduped, >=min_entity_len-filtered, sorted, and
    non-empty on both sides (``classify_tag_decode_stage(...,
    min_entity_len=...)`` emits exactly that, computed once per
    distinct text in the kernel memo) — the per-unit-row
    array_distinct/filter/array_sort lambdas and the emptiness filter
    are skipped. The clean is idempotent, so both settings are
    triple-exact on such input (parity-tested).
    """
    if pre_cleaned:
        cleaned = decoded
    else:
        cleaned = (
            decoded.withColumn(
                "subjects",
                F.array_sort(
                    F.filter(
                        F.array_distinct("subjects"),
                        lambda x: F.length(x) >= min_entity_len,
                    )
                ),
            )
            .withColumn(
                "objects",
                F.array_sort(
                    F.filter(
                        F.array_distinct("objects"),
                        lambda x: F.length(x) >= min_entity_len,
                    )
                ),
            )
            .filter((F.size("subjects") > 0) & (F.size("objects") > 0))
        )
    exploded = cleaned.select(
        "conv_id",
        "turn_idx",
        "text",
        "predicate",
        F.explode("subjects").alias("subject"),
        "objects",
    ).select(
        "conv_id",
        "turn_idx",
        "text",
        "predicate",
        "subject",
        F.explode("objects").alias("object"),
    )
    return exploded.join(
        F.broadcast(first_listed_schema(schemas_df)), "predicate", "left"
    ).select(
        "conv_id",
        "turn_idx",
        "text",
        "predicate",
        "subject",
        "object",
        "subject_type",
        "object_type",
    )


def collect_spo_lists(
    triples: DataFrame, all_turns: DataFrame | None = None
) -> DataFrame:
    """Group triples back into per-turn spo_list rows — the JSON output
    shape of produce_submit_json_file.py:298-313 (A7), keyed by
    (conv_id, turn_idx) instead of raw text.

    Passing ``all_turns`` (a transcripts DataFrame) reproduces the
    keep_empty_spo_list behavior (:289-309): turns that produced no
    triples appear with an empty spo_list."""
    spo = F.struct(
        "predicate", "subject", "object", "subject_type", "object_type"
    )
    grouped = triples.groupBy("conv_id", "turn_idx", "text").agg(
        F.array_sort(F.collect_list(spo)).alias("spo_list")
    )
    if all_turns is None:
        return grouped
    base = all_turns.select("conv_id", "turn_idx", "text")
    return base.join(
        grouped.drop("text"), ["conv_id", "turn_idx"], "left"
    ).withColumn(
        "spo_list",
        F.coalesce("spo_list", F.array().cast(grouped.schema["spo_list"].dataType)),
    )
