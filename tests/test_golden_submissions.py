"""Golden parity vs the reference's 347 committed SROIE submissions.

The reference repo ships its final task-3 outputs
(keyword_information_extraction/data/dataset/submission/submit/*.txt —
one JSON of company/date/address/total per receipt) but not the test
OCR inputs (those live outside the repo). This harness reconstructs a
minimal receipt layout from each golden's own values — company line,
address line, 'DATE: <date>', an item line, 'TOTAL <total>', a footer —
runs the REAL distributed extraction pipeline over all 347 at once, and
requires per-field exact text equality with the committed JSON.

This pins the rule chain (classify → runs → best-span → clean →
fallbacks) to real Malaysian receipt entities: names with '&', unit
numbers like 'LOT 1-0-2' that collide with the date pattern, addresses
without commas, 'NO.'-style markers, multi-format dates.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import pandas as pd
import pytest

GOLDEN_DIR = ("/root/reference/keyword_information_extraction/data/"
              "dataset/submission/submit")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR),
    reason=f"reference goldens not present at {GOLDEN_DIR}")

# Addresses the heuristic line classifier cannot see (none at present;
# kept as the escape hatch for future golden additions).
KNOWN_ADDRESS_MISSES: set[str] = set()


def _load_goldens():
    goldens = {}
    for f in sorted(glob.glob(f"{GOLDEN_DIR}/*.txt")):
        goldens[f.rsplit("/", 1)[1][:-4]] = json.load(open(f))
    return goldens


@pytest.fixture(scope="module")
def golden_spans(spark):
    goldens = _load_goldens()
    assert len(goldens) == 347
    rows = []
    for name, g in goldens.items():
        body = []
        if "company" in g:
            body.append(g["company"])
        if "address" in g:
            body.append(g["address"])
        if "date" in g:
            body.append("DATE: " + g["date"])
        body.append("1 X ITEM 1.00")
        if "total" in g:
            body.append("TOTAL " + g["total"])
        body.append("THANK YOU")
        rows.append({"conv_id": name, "turn_idx": 0, "role": "tool",
                     "text": "\n".join(body), "tool": "receipt_scanner",
                     "ts": datetime(2021, 1, 1)})
    from icdar_2019_rrc_sroie_spark.plans.extraction import extract_spans

    spans = extract_spans(
        spark.createDataFrame(pd.DataFrame(rows))).toPandas()
    got: dict[str, dict[str, str]] = {}
    for r in spans.itertuples():
        got.setdefault(r.conv_id, {})[r.label] = r.text
    return goldens, got


@pytest.mark.parametrize("field", ["company", "date", "address", "total"])
def test_golden_field_parity(golden_spans, field):
    goldens, got = golden_spans
    misses = []
    for name, g in goldens.items():
        if field not in g:
            continue
        if got.get(name, {}).get(field) != g[field]:
            misses.append(name)
    if field == "address":
        unexpected = set(misses) - KNOWN_ADDRESS_MISSES
        assert not unexpected, sorted(unexpected)[:10]
    else:
        assert not misses, misses[:10]


def test_golden_values_survive_cleaning(spark):
    """The committed outputs are final. Addresses must be exact fixed
    points of clean_address. Companies may be emptied by clean_company
    (the reference's fallback then restores the raw digit-leading line
    — e.g. '99 SPEED MART S/B' — which field-parity above covers), but
    cleaning must never leave a *different* non-empty value."""
    from pyspark.sql import functions as F

    from icdar_2019_rrc_sroie_spark.operators.entities import (
        clean_address_expr,
        clean_company_expr,
    )

    goldens = _load_goldens()
    rows = [
        {"name": n, "company": g.get("company", ""),
         "address": g.get("address", "")}
        for n, g in goldens.items()
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    cc = clean_company_expr(F.col("company"))
    out = df.select(
        "name",
        ((cc == F.col("company")) | (cc == "")).alias("company_ok"),
        (clean_address_expr(F.col("address")) == F.col("address"))
        .alias("address_fp"),
    ).toPandas()
    bad_company = out[~out.company_ok].name.tolist()
    bad_address = out[~out.address_fp].name.tolist()
    assert not bad_company, bad_company[:10]
    assert not bad_address, bad_address[:10]


def test_golden_two_line_addresses(spark):
    """Harder reconstruction: each golden address is split across two
    printed lines at the middle space. Continuation absorption
    (operators/spans.py) must re-join them; the floor is 325/343
    exact (was 294 before absorption). The remainder split into halves
    where only the SECOND half carries address evidence — absorption is
    forward-only by design (backward absorption would swallow junk
    lines between company and address on real receipts)."""
    goldens = _load_goldens()
    rows = []
    for name, g in goldens.items():
        addr = g.get("address", "")
        if not addr or " " not in addr:
            continue
        cands = [i for i, c in enumerate(addr) if c == " "]
        cut = min(cands, key=lambda i: abs(i - len(addr) // 2))
        body = [g.get("company", "X"), addr[:cut], addr[cut + 1:],
                "DATE: " + g.get("date", "01/01/2018"),
                "1 X ITEM 1.00", "TOTAL " + g.get("total", "1.00"),
                "THANK YOU"]
        rows.append({"conv_id": name, "turn_idx": 0, "role": "tool",
                     "text": "\n".join(body), "tool": "receipt_scanner",
                     "ts": datetime(2021, 1, 1)})
    from icdar_2019_rrc_sroie_spark.plans.extraction import extract_spans

    spans = extract_spans(
        spark.createDataFrame(pd.DataFrame(rows))).toPandas()
    got = {}
    for r in spans.itertuples():
        got.setdefault(r.conv_id, {})[r.label] = r.text
    n_total = len(rows)
    n_ok = sum(1 for r in rows
               if got.get(r["conv_id"], {}).get("address")
               == goldens[r["conv_id"]]["address"])
    assert n_ok >= 325, f"{n_ok}/{n_total}"
