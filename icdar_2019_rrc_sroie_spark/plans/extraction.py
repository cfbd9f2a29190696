"""Flagship end-to-end extraction plan (SURVEY.md §3.2 recast).

transcripts (conv_id, turn_idx, role, text, tool, ts)
  → boilerplate strip (pure Catalyst)
  → line explode + per-line classification (codegen'd, regex once/line)
  → one hash exchange on (conv_id, turn_idx)
  → array-algebra run segmentation + entity rules (Catalyst)
  → spans (conv_id, turn_idx, label, text)

Two physical strategies with identical semantics (property-tested):

* ``extract_spans`` (default, batch): explode → classify on line rows →
  single shuffle → assembly. The line-row projection is whole-stage
  codegen'd, so every regex runs exactly once per line; the exchange is
  keyed by (conv_id, turn_idx) — fine-grained, skew-free (a 5,000-turn
  conversation spreads over all executors). Measured 5.6× faster than
  the shuffle-free variant below (higher-order functions are
  CodegenFallback — interpreted — so keeping the per-line work in
  ordinary projections wins even at the cost of one shuffle).
* ``extract_spans_stateless`` (streaming): the same rules as pure array
  algebra on the turn row — zero exchanges, no state, legal under
  ``readStream`` append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.boilerplate import to_clean_lines
from ..operators.classify import class_expr, prob_expr
from ..operators.entities import (
    extract_date_expr,
    extract_total_expr,
    total_context_expr,
)
from ..operators.spans import (
    absorb_continuations,
    receipt_gate,
    spans_from_turns,
)

SPAN_COLUMNS = ("conv_id", "turn_idx", "label", "text")


def turn_lines(transcripts: DataFrame) -> DataFrame:
    """Strip boilerplate and explode payloads into ordered line rows."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(to_clean_lines(F.col("text"))).alias("line_idx", "text"),
    )


def turns_with_features(transcripts: DataFrame,
                        passthrough: tuple[str, ...] = ()) -> DataFrame:
    """One row per *receipt* turn with per-line feature arrays — no
    shuffle.

    Applies ``receipt_gate`` (a DATE line AND a TOTAL line) on the
    classes before the absorption fold, as ``turns_with_lines`` does,
    so only receipt turns pay for absorption and probs.

    ``passthrough`` columns (e.g. ``ts`` for streaming windows) survive
    onto the span rows."""
    lines = to_clean_lines(F.col("text"))
    with_lines = transcripts.select("conv_id", "turn_idx",
                                    *passthrough, lines.alias("texts"))
    texts = F.col("texts")
    dates = F.transform(texts, lambda t: extract_date_expr(t))
    totals = F.transform(texts, lambda t: extract_total_expr(t))
    ctxs = F.transform(texts, lambda t: total_context_expr(t))
    with_feat = with_lines.select(
        "conv_id", "turn_idx", *passthrough, "texts",
        dates.alias("dates"), totals.alias("totals"), ctxs.alias("ctxs"),
    )
    classes = F.transform(
        F.col("texts"),
        lambda t, i: class_expr(
            F.trim(t), i,
            F.element_at(F.col("dates"), i + 1),
            F.element_at(F.col("totals"), i + 1),
        ),
    )
    with_cls = with_feat.withColumn("classes0", classes) \
        .filter(receipt_gate(F.col("classes0")))
    absorbed = absorb_continuations(
        F.col("classes0"), F.col("texts"), F.col("dates"), F.col("totals"))
    with_cls = with_cls.withColumn("classes", absorbed).drop("classes0")
    probs = F.transform(F.col("classes"), lambda c: prob_expr(c))
    return with_cls.withColumn("probs", probs)


def receipt_prefilter(transcripts: DataFrame) -> DataFrame:
    """Drop turns that cannot be receipts before exploding/shuffling.

    Necessary conditions for the exact receipt gate (a DATE-pattern line
    AND a contextual money line): the raw payload must contain a digit,
    a ``d.d`` decimal and a total-context word. One linear regex pass
    per turn removes the chat majority from the expensive path; false
    positives are eliminated by the exact gate after grouping.
    """
    from ..constants import TOTAL_CONTEXT_PATTERN

    t = F.col("text")
    # r7: the bare \d conjunct was redundant (any match of \d\.\d
    # contains a digit), and the conjuncts are ordered best-rejector
    # first — the boilerplate footer ("transcript-ui v1.3") makes
    # \d\.\d match EVERY turn after a near-full scan, while the
    # context-word alternation rejects chat turns outright, so it goes
    # first and short-circuits the second scan away (conjunction
    # commutes: identical filter semantics).
    return transcripts.filter(
        t.rlike(TOTAL_CONTEXT_PATTERN) & t.rlike(r"\d\.\d")
    )


def extract_spans(transcripts: DataFrame) -> DataFrame:
    """Full pipeline: transcripts → labeled entity spans per turn
    (batch strategy: codegen line rows + one skew-free exchange)."""
    from ..operators.classify import classify_lines
    from ..operators.spans import assemble_spans

    gated = receipt_prefilter(transcripts)
    return assemble_spans(classify_lines(turn_lines(gated)))


def extract_spans_stateless(transcripts: DataFrame,
                            passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Same semantics, zero exchanges — the Structured Streaming
    strategy (stateless projection; slower per line, see module doc)."""
    return spans_from_turns(
        turns_with_features(transcripts, passthrough),
        passthrough=passthrough,
    )


def ordered_spans(spans: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx, label) output ordering (north rule W2)."""
    return spans.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx", "label"
    )
