"""Pairwise similarity scoring: one scorer driven by a field spec.

A spec is a table of ``(field, weight, sim, digit_guarded)`` rows; the
score of a pair is the weighted, null-aware mean of its per-field
similarities (north star: "vectorized Jaro-Winkler/Levenshtein similarity
over tagged fields (house_no, street, locality, city, state, pincode)").
The pipeline's table (``FIELD_WEIGHTS``) is the default; the registry's
fixed oracle formula is another spec over the same code
(``queries.REGISTRY_FIELDS``).

Design:
- ``sim`` is ``"lev"`` (``F.levenshtein`` — JVM built-in, codegen),
  ``"eq"`` (exact match, JVM) or ``"jw"`` (Jaro-Winkler Arrow pandas UDF,
  DuckDB-parity) for fields where prefix weighting helps.
- Digit-guarded fields carry the address identity in their digits: if the
  digit signatures (``{field}_digits``, precomputed per mention in
  blocking) differ the field's similarity is 0 regardless of string
  closeness ("HOUSE NO 45" vs "HOUSE NO 46" must NOT score 0.95).
- Null-aware: a field contributes only when both sides are non-null; the
  score renormalizes over the present weights. All of this is plain column
  arithmetic — one narrow stage after the pair join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from indian_address_parser_spark.functions.udfs import jaro_winkler_udf

# (field, weight, sim, digit_guarded) — the pipeline's spec.
# Jaro-Winkler (prefix-weighted, the north star's named similarity) runs on
# house_no/street — but only AFTER the JVM digit-signature prune below has
# dropped the overwhelmingly-cross-household bulk of each block: the Arrow
# JW kernel (numpy position-loop, fuzzy.jaro_winkler_batch) then sees a tiny
# survivor set. Running a Python UDF on the UNPRUNED pair stream measurably
# anti-scaled (32 Python workers contending with the join's JVM threads ran
# 3-10× slower than 8 — see BENCH/BASELINE.md); post-prune it is noise.
# Levenshtein (F.levenshtein, whole-stage codegen) covers the wide fields.
FIELD_WEIGHTS = (
    ("house_no", 0.30, "jw", True),
    ("street", 0.15, "jw", True),
    ("locality", 0.25, "lev", False),
    ("city", 0.10, "lev", False),
    ("state", 0.03, "lev", False),
    ("pincode", 0.12, "lev", False),
    ("block", 0.05, "lev", True),
    ("sector", 0.05, "lev", True),
    ("khasra", 0.05, "lev", True),
)

DEFAULT_THRESHOLD = 0.80


def spec_columns(spec: tuple) -> tuple[str, ...]:
    """Per-side columns a spec reads: each field, then the digit signature
    of each guarded field."""
    return tuple(f for f, _, _, _ in spec) + tuple(
        f"{f}_digits" for f, _, _, guarded in spec if guarded
    )


def _lev_sim(a: Column, b: Column) -> Column:
    ml = F.greatest(F.length(a), F.length(b))
    return F.when(ml == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / ml.cast("double")
    )


def _eq_sim(a: Column, b: Column) -> Column:
    return F.when(a == b, F.lit(1.0)).otherwise(F.lit(0.0))


_JVM_SIMS = {"lev": _lev_sim, "eq": _eq_sim}


def _both_present(field: str) -> Column:
    return F.col(f"{field}_a").isNotNull() & F.col(f"{field}_b").isNotNull()


def _digits_match(field: str) -> Column:
    return F.col(f"{field}_digits_a") == F.col(f"{field}_digits_b")


def _jvm_term(field: str, weight: float, sim: str, guarded: bool) -> Column:
    """weight × similarity, 0 when either side is null or the guard trips."""
    base = _JVM_SIMS[sim](F.col(f"{field}_a"), F.col(f"{field}_b"))
    if guarded:
        base = F.when(_digits_match(field), base).otherwise(F.lit(0.0))
    return F.when(_both_present(field), base * F.lit(weight)).otherwise(F.lit(0.0))


def score_pairs(
    pairs: DataFrame, threshold: float = DEFAULT_THRESHOLD, spec: tuple = FIELD_WEIGHTS
) -> DataFrame:
    """→ edges(src, dst, score) for pairs scoring ≥ threshold under ``spec``.

    ``pairs`` carries ``mention_id_{a,b}`` and ``{c}_{a,b}`` for every
    column in ``spec_columns(spec)``. Two-stage plan when the spec has
    Jaro-Winkler fields:
      1. JVM stage (whole-stage codegen, inside the pair-join stage): the
         digit-signature prune, every Levenshtein/equality term, and the
         weight normalizer — projected down to (ids, JW inputs, partial
         sums).
      2. A round-robin exchange of that NARROW projection (~6 short strings
         per row instead of the full pair payload), then the Arrow JW
         kernel + threshold filter. The exchange exists because the UDF
         would otherwise run inside the join's output stage at whatever
         partition count AQE coalesced to — measured serial (flat 12s at 8
         and 32 cores); fanned out it is sub-second per core.
    A spec without JW fields is one JVM stage with no Python node.
    """
    w_total = sum(w for _, w, _, _ in spec)
    for f, w, _, guarded in spec:
        # Exact JVM-side prune: a pair whose digit signatures on field f are
        # both present and unequal scores at most (w_total - w) / w_total
        # (the f term is 0, every other field present and perfect), so when
        # that ceiling is below the threshold drop it before the (Python)
        # Jaro-Winkler UDF ever runs. This is the main cost lever — within
        # a block most pairs are cross-household and die here inside
        # whole-stage codegen.
        if guarded and threshold > (w_total - w) / w_total:
            pairs = pairs.where(~_both_present(f) | _digits_match(f))

    jvm_terms = [_jvm_term(f, w, s, g) for f, w, s, g in spec if s != "jw"]
    total_sim = sum(jvm_terms[1:], jvm_terms[0]) if jvm_terms else F.lit(0.0)
    weight_cols = [
        F.when(_both_present(f), F.lit(w)).otherwise(F.lit(0.0)) for f, w, _, _ in spec
    ]
    total_weight = sum(weight_cols[1:], weight_cols[0])

    jw_fields = [(f, w, g) for f, w, s, g in spec if s == "jw"]
    if jw_fields:
        # guard booleans resolved JVM-side so only the raw strings cross the wire
        narrow_cols = [
            F.col("mention_id_a"),
            F.col("mention_id_b"),
            total_sim.alias("partial_sim"),
            total_weight.alias("total_weight"),
        ]
        for f, _, guarded in jw_fields:
            ok = _both_present(f) & _digits_match(f) if guarded else _both_present(f)
            narrow_cols += [F.col(f"{f}_a"), F.col(f"{f}_b"), ok.alias(f"{f}_jw_ok")]
        pairs = pairs.select(narrow_cols).repartition(
            pairs.sparkSession.sparkContext.defaultParallelism
        )
        jw_terms = [
            F.when(
                F.col(f"{f}_jw_ok"),
                jaro_winkler_udf(F.col(f"{f}_a"), F.col(f"{f}_b")) * F.lit(w),
            ).otherwise(F.lit(0.0))
            for f, w, _ in jw_fields
        ]
        total_sim = sum(jw_terms, F.col("partial_sim"))
        total_weight = F.col("total_weight")

    scored = pairs.withColumn(
        "score",
        F.when(total_weight > 0, total_sim / total_weight).otherwise(F.lit(0.0)),
    )
    return scored.where(F.col("score") >= F.lit(threshold)).select(
        F.col("mention_id_a").alias("src"),
        F.col("mention_id_b").alias("dst"),
        F.round("score", 6).alias("score"),
    )
