"""Boilerplate stripping — the HTML/layout-parse stage (north_rule).

Pure Catalyst column expressions: tag removal, margin trim, header/footer
drop, blank-line drop. Analog of the reference's crop-preprocess +
empty-region filters (functional/utils/box.py:102-134 F3,
functional/data/preprocessing/split_labels.py:71-136 X20) re-expressed for
text payloads. No Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Non-content containers whose *inner text* is also boilerplate.
CONTAINER_PATTERN = r"(?is)<(head|script|style)\b.*?</\1>"

#: HTML-ish markup to remove entirely.
TAG_PATTERN = r"<[^>]*>"

#: Header/footer chrome lines, e.g. ``== SESSION conv_000001 TURN 3 ==``.
CHROME_PATTERN = r"^==.*==$"


def strip_tags(text: Column) -> Column:
    """Remove non-content containers (with their text) then markup tags."""
    return F.regexp_replace(
        F.regexp_replace(text, CONTAINER_PATTERN, ""), TAG_PATTERN, ""
    )


def to_clean_lines(text: Column) -> Column:
    """Payload → array of trimmed, non-empty, non-chrome lines.

    This is the whole boilerplate-strip stage as one expression tree —
    Catalyst fuses it into a single whole-stage-codegen projection.
    """
    lines = F.split(strip_tags(text), "\n")
    trimmed = F.transform(lines, lambda l: F.trim(l))
    return F.filter(
        trimmed,
        lambda l: (F.length(l) > 0) & (~l.rlike(CHROME_PATTERN)),
    )


#: Main-content container (DOM heuristic): prefer the inner text of the
#: first ``<div class="content">…</div>`` block when present.
MAIN_CONTENT_PATTERN = r'(?is)<div class="content">(.*?)</div>'


def main_content(text: Column) -> Column:
    """DOM-heuristic main-content selection: extract the content
    container if the document has one, else fall back to the whole
    payload. Pure Catalyst; runs before tag stripping."""
    inner = F.regexp_extract(text, MAIN_CONTENT_PATTERN, 1)
    return F.when(inner != "", inner).otherwise(text)


# --------------------------------------------------------------------------
# Block-level boilerplate classification (north_rule "HTML boilerplate
# strip + DOM heuristics" deepened): a JusText/Boilerpipe-style
# link-density / word-count classifier, entirely as Catalyst HOF
# expressions over the block array — one whole-stage-codegen projection
# per document, no Python, no shuffle.
# --------------------------------------------------------------------------

#: Block boundaries: opening/closing block-level tags.
BLOCK_SPLIT_PATTERN = (
    r"(?i)</?(?:div|p|table|ul|ol|li|h[1-6]|section|article|"
    r"header|footer|nav|aside|blockquote|tr|td|th)[^>]*>|(?i)<br ?/?>"
)

#: Anchor inner text (lazy, dotall) — link-density numerator.
ANCHOR_PATTERN = r"(?is)<a[^>]*>(.*?)</a>"

#: Default jusText-ish thresholds.
MIN_GOOD_WORDS = 5
MAX_LINK_DENSITY = 0.3


def html_blocks(text: Column) -> Column:
    """HTML payload → array of non-empty raw blocks (inline markup like
    ``<a>`` kept for the density features)."""
    return F.filter(
        F.transform(F.split(text, BLOCK_SPLIT_PATTERN),
                    lambda b: F.trim(b)),
        lambda b: F.length(b) > 0,
    )


def block_features(block: Column) -> Column:
    """struct(text, n_chars, n_words, link_chars, link_density) for one
    raw block."""
    inner_links = F.regexp_extract_all(block, F.lit(ANCHOR_PATTERN), 1)
    link_chars = F.aggregate(
        inner_links, F.lit(0),
        lambda acc, s: acc + F.length(F.trim(s)))
    text = F.trim(F.regexp_replace(block, TAG_PATTERN, ""))
    n_chars = F.length(text)
    n_words = F.when(n_chars > 0, F.size(F.split(text, r"\s+"))) \
        .otherwise(F.lit(0))
    density = F.when(
        n_chars > 0,
        link_chars.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(1.0))
    return F.struct(
        text.alias("text"),
        n_chars.cast("int").alias("n_chars"),
        n_words.cast("int").alias("n_words"),
        link_chars.cast("int").alias("link_chars"),
        density.alias("link_density"),
    )


def classify_blocks(text: Column,
                    min_words: int = MIN_GOOD_WORDS,
                    max_link_density: float = MAX_LINK_DENSITY) -> Column:
    """Payload → array of block structs with an ``is_good`` flag: a
    block is main content when it has enough words AND low link
    density (nav bars / footers are short and link-dense — the
    boilerpipe/jusText heuristic)."""
    feats = F.transform(html_blocks(text), block_features)
    return F.transform(
        feats,
        lambda b: F.struct(
            b["text"].alias("text"),
            b["n_chars"].alias("n_chars"),
            b["n_words"].alias("n_words"),
            b["link_chars"].alias("link_chars"),
            b["link_density"].alias("link_density"),
            ((b["n_words"] >= min_words)
             & (b["link_density"] <= max_link_density)).alias("is_good"),
        ),
    )


def main_content_blocks(text: Column,
                        min_words: int = MIN_GOOD_WORDS,
                        max_link_density: float = MAX_LINK_DENSITY) -> Column:
    """Main content: newline-joined text of the good blocks."""
    good = F.filter(classify_blocks(text, min_words, max_link_density),
                    lambda b: b["is_good"])
    return F.array_join(F.transform(good, lambda b: b["text"]), "\n")


def contextual_block_table(df, text_col: str = "text",
                           out_col: str = "ctx_blocks",
                           min_words: int = MIN_GOOD_WORDS,
                           max_link_density: float = MAX_LINK_DENSITY):
    """jusText's CONTEXT-SENSITIVE pass (round 5 — the part that
    distinguishes jusText from a plain per-block threshold). Blocks
    are first classified context-free into

    * ``bad``   — link-dense (nav bars, social footers), regardless of
      length;
    * ``good``  — enough words at low link density;
    * ``short`` — too few words to judge on their own (captions,
      list items, single-sentence paragraphs);

    then every ``short`` block inherits ``good`` iff its NEAREST
    non-short neighbor on either side is good — a caption inside an
    article survives, a stray fragment between two nav bars does not
    (simplified from jusText's near-good ladder; the two-sided
    nearest-neighbor rule is the load-bearing part). Edge blocks with
    no non-short neighbor on one side use the other side alone.

    DataFrame in → DataFrame out with ``out_col`` added: array of
    struct(text, n_words, link_density, cls, ctx_good). The context
    scan never leaves the row (ZERO shuffle at any corpus size), and
    the operator is deliberately DataFrame-level: features and
    context-free classes are materialized as intermediate columns
    across projection boundaries, so the neighbor scan reads
    already-computed ATTRIBUTES — referencing the expression trees
    inside the lambdas instead would re-run the block regex chain per
    lookup, the O(n²)-HOF-re-evaluation class this repo keeps plan
    asserts against. The scan itself is two linear carry passes (last
    non-short before / first after via aggregate + reverse), so cost
    is O(blocks) per document; edge blocks see NULL carries
    (NULL-safe compares), and empty block arrays fall through every
    pass as empties."""
    feats_c, cls_c = "_bp_feats", "_bp_cls"
    step1 = df.withColumn(
        feats_c, F.transform(html_blocks(F.col(text_col)),
                             block_features))
    step2 = step1.withColumn(
        cls_c,
        F.transform(
            F.col(feats_c),
            lambda b: F.when(b["link_density"] > max_link_density,
                             F.lit("bad"))
            .when(b["n_words"] >= min_words, F.lit("good"))
            .otherwise(F.lit("short"))))

    cls = F.col(cls_c)

    def _carry_scan(arr: Column) -> Column:
        # arr[i]'s nearest preceding non-short class (NULL if none):
        # ONE linear aggregate pass carrying the last non-short seen —
        # the first version sliced+filtered the whole class array per
        # element, an O(n_blocks²) scan per document (round-5 review);
        # `cls` is a materialized attribute, so both passes are pure
        # array reads either way, but boilerplate-heavy pages split
        # into thousands of blocks and the quadratic form costs
        # millions of reads per row
        return F.aggregate(
            arr,
            F.struct(F.array().cast("array<string>").alias("out"),
                     F.lit(None).cast("string").alias("carry")),
            lambda acc, c: F.struct(
                F.concat(acc["out"], F.array(acc["carry"])).alias("out"),
                F.when(c != "short", c).otherwise(acc["carry"])
                .alias("carry")),
            lambda acc: acc["out"])

    prev_ns = _carry_scan(cls)
    next_ns = F.reverse(_carry_scan(F.reverse(cls)))
    zipped = F.zip_with(
        F.zip_with(F.col(feats_c), cls, lambda b, c: F.struct(
            b["text"].alias("text"), b["n_words"].alias("n_words"),
            b["link_density"].alias("link_density"), c.alias("cls"))),
        F.zip_with(prev_ns, next_ns,
                   lambda p, n: p.eqNullSafe("good")
                   | n.eqNullSafe("good")),
        lambda s, ctx: F.struct(
            s["text"].alias("text"), s["n_words"].alias("n_words"),
            s["link_density"].alias("link_density"),
            s["cls"].alias("cls"),
            F.when(s["cls"] == "good", F.lit(True))
            .when(s["cls"] == "bad", F.lit(False))
            .otherwise(ctx).alias("ctx_good")))
    return step2.withColumn(out_col, zipped).drop(feats_c, cls_c)


def contextual_main_expr(blocks: Column) -> Column:
    """Main content from a :func:`contextual_block_table` block array:
    newline-joined text of the finally-good blocks."""
    good = F.filter(blocks, lambda b: b["ctx_good"])
    return F.array_join(F.transform(good, lambda b: b["text"]), "\n")


# --------------------------------------------------------------------------
# Repeated-line page-header/footer removal (north_rule "PDF/layout
# parse" deepened): a page-structured document carries the same running
# header/footer on (nearly) every page; lines whose normalized text
# repeats on ≥ frac of pages (and ≥ min_pages) are layout chrome, not
# content. Entirely per-document array algebra — one codegen
# projection, NO shuffle: the cross-page frequency count never leaves
# the row, which is exactly why this form scales to 10^12 documents.
# --------------------------------------------------------------------------

PAGE_BREAK = "\f"


def _page_lines(text: Column) -> Column:
    """text → array<array<string>>: trimmed non-empty lines per page."""
    return F.transform(
        F.split(text, PAGE_BREAK),
        lambda p: F.filter(
            F.transform(F.split(p, "\n"), lambda l: F.trim(l)),
            lambda l: F.length(l) > 0,
        ),
    )


def repeated_page_lines(text: Column, min_pages: int = 2,
                        frac: float = 0.6) -> Column:
    """Distinct lines appearing on ≥ max(min_pages, frac·n_pages)
    pages — the running header/footer set of one document."""
    pages = _page_lines(text)
    n_pages = F.size(pages)
    need = F.greatest(F.lit(min_pages),
                      F.ceil(n_pages.cast("double") * frac).cast("int"))
    distinct = F.array_distinct(F.flatten(pages))
    return F.filter(
        distinct,
        lambda line: F.size(
            F.filter(pages, lambda pls: F.array_contains(pls, line))
        ) >= need,
    )


def strip_repeated_page_lines(text: Column, min_pages: int = 2,
                              frac: float = 0.6) -> Column:
    """Document text with running headers/footers removed; pages are
    re-joined with the page-break character, lines with newlines."""
    pages = _page_lines(text)
    chrome = repeated_page_lines(text, min_pages, frac)
    kept = F.transform(
        pages,
        lambda pls: F.filter(
            pls, lambda l: ~F.array_contains(chrome, l)),
    )
    return F.array_join(
        F.transform(kept, lambda pls: F.array_join(pls, "\n")),
        PAGE_BREAK,
    )


def dup_segment_fraction(text: Column, sep: str = r"\. ") -> Column:
    """Gopher-style repetition signal: fraction of a document's
    non-empty segments (sentence-ish, split on ``sep``) that are
    duplicates of an earlier segment. 0 for an all-distinct doc,
    → 1 for a loop of one sentence. Pure array algebra per row."""
    segs = F.filter(
        F.transform(F.split(text, sep), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0)
    n = F.size(segs)
    return F.when(n > 0,
                  (n - F.size(F.array_distinct(segs))) / n) \
        .otherwise(F.lit(0.0))


def top_bigram_fraction(text: Column) -> Column:
    """Gopher-style repetition signal: the most frequent token bigram's
    share of all bigrams. Catalyst HOFs only; note the lambdas
    re-reference ``toks``/``bigrams``, which Catalyst re-evaluates per
    element (the round-4 HOF-re-evaluation class), so the true per-doc
    cost is O(u·n²) in token count n and distinct-bigram count u —
    acceptable ONLY because documents bound n (~10² tokens here); a
    corpus with long documents should explode bigrams to rows and
    aggregate instead of using this per-row form."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.transform(
        F.slice(toks, 1, n - 1),
        lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
    )).otherwise(F.array().cast("array<string>"))
    top = F.array_max(F.transform(
        F.array_distinct(bigrams),
        lambda d: F.size(F.filter(bigrams, lambda x: x == d))))
    return F.when(F.size(bigrams) > 0,
                  top / F.size(bigrams)).otherwise(F.lit(0.0))
