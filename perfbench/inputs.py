"""Seeded benchmark inputs, staged as parquet inside the checkout.

Every generator is a pure function of ``(workload, seed, size)``: the
same triple gives byte-identical rows. Inputs are written once per
triple under ``perfbench/.work/inputs/`` and reused by later runs; the
time spent generating is reported on its own and is part of neither
``setup_s`` nor any timed pass.

The transcript builders reuse the package's fixture row builders
(``fixtures._receipt_lines`` / ``_wrap_boilerplate``), so receipts carry
the same ground truth the flagship tests use; only the receipt share,
the conversation-length skew and the file layout are set here.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])
GT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("company", pa.string()), ("date", pa.string()),
    ("address", pa.string()), ("total", pa.string()),
])
def _h(*keys) -> int:
    raw = "\x1f".join(str(k) for k in keys).encode()
    return int.from_bytes(hashlib.md5(raw).digest()[:8], "big")


def _transcript_rows(seed: int, n_turns: int, receipt_per_mille: int,
                     long_every: int):
    """Conversations until ``n_turns`` turns exist (the last one is cut).

    ``receipt_per_mille`` sets the receipt share; one conversation in
    ``long_every`` is 48-447 turns long, the rest 4-15 (the fixture's
    default skew is one in 97). The lengths do not depend on the seed:
    at these sizes one long conversation is a large share of the input,
    so seeded lengths would make the work itself differ between seeds.
    The seed picks which turns are receipts and their contents."""
    from icdar_2019_rrc_sroie_spark import fixtures as fx

    rows = {name: [] for name in TRANSCRIPT_SCHEMA.names}
    gt = {name: [] for name in GT_SCHEMA.names}
    conv, total = 0, 0
    while total < n_turns:
        k = _h(conv, "len")
        n = 48 + k % 400 if conv % long_every == 0 else 4 + k % 12
        n = min(n, n_turns - total)
        conv_id = f"conv_{conv:06d}"
        t0 = fx._BASE_TS + timedelta(minutes=conv % 10_000)
        for turn in range(n):
            role = ("user", "assistant", "tool")[turn % 3]
            if _h(seed, conv, turn, "kind") % 1000 < receipt_per_mille:
                body, ent = fx._receipt_lines(seed, conv, turn)
                gt["conv_id"].append(conv_id)
                gt["turn_idx"].append(turn)
                for field in ("company", "date", "address", "total"):
                    gt[field].append(ent[field])
            else:
                snippets = fx._CHAT_SNIPPETS
                body = [snippets[_h(seed, conv, turn, "chat")
                                 % len(snippets)]]
            rows["conv_id"].append(conv_id)
            rows["turn_idx"].append(turn)
            rows["role"].append(role)
            rows["text"].append(fx._wrap_boilerplate(conv_id, turn, body))
            rows["tool"].append("receipt_scanner" if role == "tool" else None)
            rows["ts"].append(t0 + timedelta(seconds=17 * turn))
        total += n
        conv += 1
    return (pa.table(rows, schema=TRANSCRIPT_SCHEMA),
            pa.table(gt, schema=GT_SCHEMA), conv)


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"))


def stage(work_dir: str, workload: str, seed: int, size: int,
          spec: dict) -> dict:
    """Generate (or reuse) the inputs of one run; returns their manifest:
    paths, row counts and ``gen_s`` (0 when reused)."""
    root = os.path.join(work_dir, "inputs", f"{workload}-s{seed}-n{size}")
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        return {**manifest, "gen_s": 0.0, "reused": True}
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    turns, gt, n_convs = _transcript_rows(
        seed, size, spec["receipt_per_mille"], spec["long_every"])
    _write_files(turns, os.path.join(root, "transcripts"), spec["n_files"])
    _write_files(gt, os.path.join(root, "gt"), 1)
    manifest = {"transcripts": os.path.join(root, "transcripts"),
                "gt": os.path.join(root, "gt"),
                "turns": turns.num_rows, "receipts": gt.num_rows,
                "convs": n_convs, "files": spec["n_files"]}
    manifest["gen_s"] = time.perf_counter() - t0
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return {**manifest, "reused": False}
