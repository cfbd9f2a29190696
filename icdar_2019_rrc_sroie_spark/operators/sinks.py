"""Sinks (S10/S11): submission-format encoders and the contest zip.

The reference writes per-image ``.txt`` files and zips them
(text_localization/ctpn/evaluation.py:161-183 detection;
keyword_information_extraction/evaluation.py:129-136 entities). The
engine keeps everything tabular: one row per document with the exact
serialized payload the reference would put in the file, written as
partitioned parquet (or streamed to any object store) — file-per-record
does not survive 10^12 rows, the *bytes* per record do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detection_submission(lines: DataFrame) -> DataFrame:
    """Detections → SROIE task-1 submission payload per doc:
    ``xmin,ymin,xmax,ymax`` per line, newline-joined, ordered by line_id
    (demo.py:196-201 semantics, integer coords)."""
    row_txt = F.concat_ws(
        ",",
        F.col("xmin").cast("int"), F.col("ymin").cast("int"),
        F.col("xmax").cast("int"), F.col("ymax").cast("int"),
    )
    return (
        lines.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_id", row_txt.alias("txt")))
                    ),
                    lambda s: s["txt"],
                ),
                "\n",
            ).alias("submission")
        )
    )


def entity_submission(spans: DataFrame) -> DataFrame:
    """Entity spans → per-turn JSON payload with fixed key order
    (company, date, address, total — evaluation.py:129-136).

    Null entities are already dropped upstream (F8); to_json omits
    missing keys via a map built from present labels only.
    """
    ordered = ["company", "date", "address", "total"]
    per_turn = spans.groupBy("conv_id", "turn_idx").agg(
        F.map_from_entries(F.collect_list(F.struct("label", "text"))).alias("m")
    )
    entries = [
        F.when(
            F.map_contains_key(F.col("m"), F.lit(k)),
            F.struct(F.lit(k).alias("key"),
                     F.element_at(F.col("m"), F.lit(k)).alias("value")),
        )
        for k in ordered
    ]
    payload = F.to_json(
        F.map_from_entries(
            F.filter(F.array(*entries), lambda e: e.isNotNull())
        )
    )
    return per_turn.select("conv_id", "turn_idx", payload.alias("submission"))


def package_submission_zip(df: DataFrame, zip_path: str,
                           name_col: str = "doc_id",
                           payload_col: str = "submission",
                           ext: str = "txt") -> int:
    """Archive a submission table into the SROIE server's zip layout —
    one ``<name>.<ext>`` entry per row (text_localization/ctpn/
    evaluation.py:175-183, keyword_information_extraction/
    evaluation.py:129-136).

    The zip is a single driver-side artifact by nature (the contest
    server takes one file), so rows stream through the driver via
    ``toLocalIterator`` — bounded memory, never a full collect. The
    heavy lifting (formatting every submission payload) stays on the
    executors. Returns the number of entries written.
    """
    from zipfile import ZIP_DEFLATED, ZipFile

    n = 0
    seen: set[str] = set()
    with ZipFile(zip_path, "w", ZIP_DEFLATED) as zf:
        for row in df.select(name_col, payload_col).toLocalIterator():
            name = f"{row[name_col]}.{ext}"
            # duplicate entry names would silently shadow each other in
            # the archive (the contest server sees an ambiguous zip) —
            # fail loudly instead
            if name in seen:
                raise ValueError(
                    f"duplicate submission key {row[name_col]!r}: zip "
                    f"entry {name} already written")
            seen.add(name)
            zf.writestr(name, row[payload_col] or "")
            n += 1
    return n


def apply_corrections(spans: DataFrame, corrections: DataFrame,
                      keys: tuple[str, ...] = ("doc_id", "label"),
                      value_col: str = "text",
                      corrected_col: str = "corrected") -> DataFrame:
    """Keyed post-hoc corrections over extracted entities — the
    reference's curated fix-up table workflow
    (keyword_information_extraction/data/dataset/submission/
    fix_ocr_mismatches.csv: per (filename, category) hand corrections
    applied to final outputs).

    ``corrections`` is small and curated by nature → broadcast left
    join; a matching row replaces ``value_col``, everything else passes
    through untouched. No shuffle of the spans side.
    """
    # one patch per key — a duplicated correction row must not fan out
    # the spans side through the join
    c = F.broadcast(
        corrections.select(*keys, corrected_col).dropDuplicates(list(keys)))
    return (
        spans.join(c, list(keys), "left")
        .withColumn(value_col,
                    F.coalesce(F.col(corrected_col), F.col(value_col)))
        .drop(corrected_col)
    )
