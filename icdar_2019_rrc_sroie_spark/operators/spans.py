"""Run-length span assembly + entity selection (W3, A10, F8) — single
shuffle.

Re-expresses the reference's ``convert_predictions_to_dict``
(keyword_information_extraction/data/postprocessing/entity_matching.py:
118-256) as ONE aggregation: classified line rows are grouped per turn
into a sorted struct array, then run segmentation (entity_matching.py:
143), per-entity best-run selection with the strictly-greater/earliest
rule (:146-163), date/total first-max-line vs company/address
space-join (:153-163), cleaning, fallback rules and null drop
(:165-254) all happen as Catalyst array algebra on that one row per
turn.

The receipt gate (a DATE line AND a TOTAL line) is applied by the
producers of those turn rows (``turns_with_lines`` here,
``turns_with_features`` for the stateless strategy), below the
address-absorption fold; ``spans_from_turns`` is a pure projection,
staged so that every interpreted fold appears once in the plan.

Scale rationale: turns are small (10-500 lines) so the collected array
is bounded; the plan has exactly one exchange — hash(conv_id, turn_idx)
— and the classifier chain upstream is evaluated exactly once (the
previous window/pivot/join formulation recomputed it three times).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import ENTITY_LABELS, LABELS_CLASSES
from .entities import (
    clean_address_expr,
    clean_company_expr,
    company_fallback_expr,
    date_fallback_from,
    total_fallback_from,
)

_TURN_KEYS = ("conv_id", "turn_idx")

_DATE = LABELS_CLASSES["date"]
_TOTAL = LABELS_CLASSES["total"]
_ADDRESS = LABELS_CLASSES["address"]
_NONE = LABELS_CLASSES["none"]


def _best_run(entity_cls: int, runs: Column) -> Column:
    """Winning run struct for one entity class (null if none).

    ``runs``: array<struct<cls,s,e,run_max>> in line order. The winner
    is the run with the strictly greatest max-probability (ties keep the
    earliest run — reference iterates runs in order and only replaces on
    ``>``, entity_matching.py:150-152)."""
    null_run = F.lit(None).cast(
        "struct<cls:int,s:int,e:int,run_max:double>"
    )
    return F.aggregate(
        F.filter(runs, lambda r: r["cls"] == entity_cls),
        null_run,
        lambda acc, r: F.when(
            acc.isNull() | (r["run_max"] > acc["run_max"]), r
        ).otherwise(acc),
    )


def _best_run_value(best: Column, values: Column, probs: Column) -> Column:
    """date/total winner: the precomputed value of the first line inside
    the winning run ``best`` that reaches the run's max probability
    (probabilities.index(max, start, stop) — earliest wins)."""
    s, e, run_max = best["s"], best["e"], best["run_max"]
    idx = F.try_element_at(
        F.filter(
            F.sequence(s, e),
            lambda i: F.element_at(probs, i + 1) == run_max,
        ),
        F.lit(1),
    )
    value = F.element_at(values, idx + 1)
    return F.when(best.isNull(), F.lit("")).otherwise(
        F.coalesce(value, F.lit(""))
    )


def _best_run_joined(best: Column, texts: Column) -> Column:
    """company/address winner: the lines of the winning run ``best``
    joined with spaces (entity_matching.py:161-163)."""
    s, e = best["s"], best["e"]
    raw = F.array_join(F.slice(texts, s + 1, e - s + 1), " ")
    return F.when(best.isNull(), F.lit("")).otherwise(
        F.coalesce(raw, F.lit(""))
    )


def receipt_gate(classes: Column) -> Column:
    """Receipt precondition: at least one DATE line AND one TOTAL line.

    ``classes`` is referenced once, so a filter pushed below the
    projection that computes it inlines that expression once, not
    twice. Invariant under ``absorb_continuations`` (it only rewrites
    none→address), so it may run on the classes before absorption."""
    return F.size(F.array_intersect(
        classes, F.array(F.lit(_DATE), F.lit(_TOTAL)))) == 2


def absorb_continuations(classes, texts, dates, totals):
    """Address-continuation absorption: a none-classified, non-empty
    line with no date/total signal directly following an address line
    is part of the address (receipts print addresses over 2-3 lines;
    the continuation half often has no street marker of its own —
    measured on the reference's committed submissions). Cascades, so
    any run of continuation lines is absorbed.

    Implemented as ONE left fold over an arrays_zip so each input
    column is referenced exactly once: in the stateless strategy the
    classes array is a large inline expression, and a formulation that
    references it k times k-plicates the whole tree after projection
    collapse (measured: the streaming micro-batch went from seconds to
    unbounded before this shape).
    """
    z = F.arrays_zip(
        classes.alias("c"), texts.alias("t"),
        dates.alias("d"), totals.alias("x"),
    )
    return F.aggregate(
        z,
        F.array().cast("array<int>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.when(
                    (e["c"] == _NONE)
                    & (F.try_element_at(acc, F.lit(-1)) == _ADDRESS)
                    & (e["d"] == "")
                    & (e["x"] == "")
                    & (F.trim(e["t"]) != ""),
                    F.lit(_ADDRESS),
                ).otherwise(e["c"]).cast("int")
            ),
        ),
    )


def turns_with_lines(classified: DataFrame) -> DataFrame:
    """One row per *receipt* turn: sorted arrays of per-line features.

    Receipt pre-gate: only turns with at least one DATE line AND at
    least one TOTAL line survive; every other turn is dropped here.

    Date/total extraction runs once per line on the map side. ``ctxs``
    (the total-context flag) and ``probs`` (a function of the class)
    are not shipped through the shuffle: both are recomputed after it,
    for the turns that pass the pre-gate only."""
    from .classify import prob_expr
    from .entities import total_context_expr

    grouped = classified.groupBy(*_TURN_KEYS).agg(
        F.array_sort(
            F.collect_list(
                # prob is a pure function of cls, and ctx_ok of text —
                # both recomputed after the shuffle (on the ~1% of turns
                # surviving the receipt gate below) instead of being
                # computed for every line on the map side and shipped
                # through the exchange
                F.struct("line_idx", "text", "cls",
                         "date_ex", "total_ex")
            )
        ).alias("L")
    )
    base = grouped.select(
        *_TURN_KEYS,
        F.transform("L", lambda x: x["text"]).alias("texts"),
        F.transform("L", lambda x: x["cls"]).alias("classes0"),
        F.transform("L", lambda x: x["date_ex"]).alias("dates"),
        F.transform("L", lambda x: x["total_ex"]).alias("totals"),
    )
    # Receipt pre-gate BEFORE the absorption fold: the gate is
    # invariant under absorption (see ``receipt_gate``), so only receipt
    # turns (~1%) pay for absorption, probs and the ctx recompute.
    base = base.filter(receipt_gate(F.col("classes0")))
    classes = absorb_continuations(
        F.col("classes0"), F.col("texts"), F.col("dates"), F.col("totals"))
    return base.withColumn(
        "ctxs",
        F.transform(F.col("texts"), lambda t: total_context_expr(t))) \
        .withColumn("classes", classes).drop("classes0") \
        .withColumn("probs",
                    F.transform(F.col("classes"), lambda c: prob_expr(c)))


def assemble_spans(classified: DataFrame) -> DataFrame:
    """classified line rows → spans (conv_id, turn_idx, label, text).

    Line-row entry point (task-3 CSV shape): one shuffle to regroup
    lines per turn, then the array-algebra assembly.
    """
    return spans_from_turns(turns_with_lines(classified))


def spans_from_turns(turns: DataFrame,
                     passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Receipt-turn rows → spans (conv_id, turn_idx, label, text).

    ``turns`` carries per-turn arrays (texts, classes, probs, dates,
    totals, ctxs) in line order, one row per *receipt turn*: the
    producers (``turns_with_lines``, ``turns_with_features``) apply
    ``receipt_gate``. Pure projection — callers that already have one
    row per turn (the transcripts flagship) get a shuffle-free plan.

    Staged as a chain of projections, each reading the previous stage's
    values by column name: run starts → runs → the four winning runs →
    raw strings → cleaned company/address → fallbacks → ``stack``. A
    ``Column`` is an expression tree, not a value: built as one
    projection, each winning-run fold would be pasted into every use of
    it. CollapseProject never inlines a non-cheap value used more than
    once, so each fold is planned and evaluated once
    (``tests/test_plan_hygiene.py``).
    """
    keep = (*_TURN_KEYS, *passthrough)
    C, P, texts = F.col("classes"), F.col("probs"), F.col("texts")
    dates, totals = F.col("dates"), F.col("totals")
    n = F.size(C)

    # run starts: i == 0 or class change (W3 gaps-and-islands, in-array)
    turns = turns.withColumn("starts", F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0)
        | (F.element_at(C, i + 1) != F.element_at(C, i)),
    ))
    starts = F.col("starts")
    m = F.size(starts)
    runs = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda j: F.struct(
            F.element_at(C, F.element_at(starts, j + 1) + 1).alias("cls"),
            F.element_at(starts, j + 1).alias("s"),
            F.when(
                j < m - 1, F.element_at(starts, j + 2) - 1
            ).otherwise(n - 1).alias("e"),
        ),
    )
    runs = F.transform(
        runs,
        lambda r: F.struct(
            r["cls"].alias("cls"),
            r["s"].alias("s"),
            r["e"].alias("e"),
            F.array_max(
                F.slice(P, r["s"] + 1, r["e"] - r["s"] + 1)
            ).alias("run_max"),
        ),
    )
    turns = turns.withColumn("runs", runs)

    best = {name: F.col(f"best_{name}") for name in ENTITY_LABELS}
    turns = turns.withColumns({
        f"best_{name}": _best_run(LABELS_CLASSES[name], F.col("runs"))
        for name in best
    })
    turns = turns.withColumns({
        "company_raw": _best_run_joined(best["company"], texts),
        "address_raw": _best_run_joined(best["address"], texts),
        "date_p": _best_run_value(best["date"], dates, P),
        "total_p": _best_run_value(best["total"], totals, P),
    })
    turns = turns.withColumns({
        "company_p": clean_company_expr(F.col("company_raw")),
        "address": clean_address_expr(F.col("address_raw")),
    })

    company_p, date_p, total_p = (
        F.col("company_p"), F.col("date_p"), F.col("total_p"))
    resolved = turns.select(
        *keep,
        F.when(company_p == "", company_fallback_expr(texts))
        .otherwise(company_p).alias("company"),
        F.when(date_p == "", date_fallback_from(dates))
        .otherwise(date_p).alias("date"),
        "address",
        F.when(
            total_p == "", total_fallback_from(totals, F.col("ctxs"), texts),
        ).otherwise(total_p).alias("total"),
    )

    return resolved.select(
        *keep,
        F.expr(
            "stack(4, 'company', company, 'date', date, "
            "'address', address, 'total', total) as (label, text)"
        ),
    ).filter(F.col("text") != "")
