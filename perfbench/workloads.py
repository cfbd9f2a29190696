"""The benchmark's workloads: one timed pass, its output check, and the
traced per-layer breakdown of each.

A workload object is built once per run on a live session. ``run_pass``
is the unit the benchmark times (closed loop: the next pass starts when
the previous one returns). It returns a signature of its output, which
``verify`` compares against the generator's ground truth after the
timed loop, so checking never sits between timed passes.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

PKG = "icdar_2019_rrc_sroie_spark"

#: The flagship's layers in pipeline order: (layer, public function).
EXTRACTION_LAYERS = (
    ("prefilter", f"{PKG}.plans.extraction.receipt_prefilter"),
    ("boilerplate", f"{PKG}.plans.extraction.turn_lines"),
    ("classify", f"{PKG}.operators.classify.classify_lines"),
    ("spans", f"{PKG}.operators.spans.assemble_spans"),
)
#: Every public function the traced passes record a span around.
TRACED_CALLS = {
    **{target: layer for layer, target in EXTRACTION_LAYERS},
    f"{PKG}.plans.lineage.extract_spans": "extract_spans",
    f"{PKG}.plans.lineage.run_with_resume": "lineage",
}


def materialize(df, **aggs) -> dict:
    """Run ``df`` into the noop sink; ``aggs`` are observed on the same
    action (no extra job) and returned."""
    if not aggs:
        df.write.format("noop").mode("overwrite").save()
        return {}
    obs = Observation()
    df.observe(obs, *[a.alias(k) for k, a in aggs.items()]) \
        .write.format("noop").mode("overwrite").save()
    return obs.get


def _row_hash():
    return F.xxhash64(F.concat_ws("\x1f", "conv_id",
                                  F.col("turn_idx").cast("string"),
                                  "label", "text"))


def span_signature() -> dict:
    """Row count and order-free row-set hash of a spans table."""
    return {"n": F.count(F.lit(1)),
            "h": F.sum(_row_hash().cast("decimal(38,0)"))}


def _sig(values: dict) -> tuple:
    return tuple(str(values[k]) for k in sorted(values))


class Prefixes:
    """Cumulative-prefix timing: each prefix is rebuilt from scratch,
    cache cleared, and materialized on its own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.incl: dict[str, float] = {}

    def run(self, key: str, build, target: str, **aggs) -> dict:
        from tracing import prefix

        self.spark.catalog.clearCache()
        self.spark.sparkContext.setJobGroup(f"prefix:{key}", key)
        t0 = time.perf_counter()
        df = prefix(build, target)
        out = materialize(df, **aggs)
        self.incl[key] = time.perf_counter() - t0
        out["df"] = df
        return out

    def self_s(self, key: str, before: str | None) -> float:
        return self.incl[key] - (self.incl[before] if before else 0.0)


class Extraction:
    """The flagship ``extract_spans`` over a staged transcripts table,
    into the noop sink."""

    def __init__(self, spark, manifest: dict, run_dir: str):
        self.spark = spark
        self.manifest = manifest
        self.run_dir = run_dir
        self.transcripts = spark.read.parquet(manifest["transcripts"])
        self.gt = spark.read.parquet(manifest["gt"])

    @property
    def turns(self) -> int:
        return self.manifest["turns"]

    def _extract(self):
        from icdar_2019_rrc_sroie_spark.plans.extraction import extract_spans

        return extract_spans(self.transcripts)

    def run_pass(self) -> dict:
        return {"sig": _sig(materialize(self._extract(), **span_signature()))}

    def reference(self) -> tuple:
        """Signature of the generator's ground-truth spans. A pass that
        matches it recovered every planted entity exactly and nothing
        else: its corpus hmean against the ground truth is 1."""
        from icdar_2019_rrc_sroie_spark.eval.extraction_f1 import gt_spans

        return _sig(gt_spans(self.gt).agg(
            *[a.alias(k) for k, a in span_signature().items()]
        ).collect()[0].asDict())

    def verify(self, passes: list[dict]) -> None:
        ref = self.reference()
        for p in passes:
            if "sig" in p and p["sig"] != ref:
                p["errors"].append(f"spans {p['sig']} != ground truth {ref}")

    def layers(self, prefixes: Prefixes) -> dict:
        m = {"prefilter.turns_in": self.turns}
        before = None
        for layer, target in EXTRACTION_LAYERS:
            out = prefixes.run(layer, self._extract, target,
                               n=F.count(F.lit(1)))
            m[f"{layer}.self_s"] = prefixes.self_s(layer, before)
            m[{"prefilter": "prefilter.turns_out",
               "boilerplate": "boilerplate.lines_out",
               "classify": "classify.lines",
               "spans": "spans.spans_out"}[layer]] = out["n"]
            before = layer
        emitting = out["df"].select("conv_id", "turn_idx").distinct().count()
        m["prefilter.pass_frac"] = m["prefilter.turns_out"] / self.turns
        m["spans.gate_yield"] = (emitting / m["prefilter.turns_out"]
                                 if m["prefilter.turns_out"] else 0.0)
        return m


class ReceiptScan(Extraction):
    """Receipt-heavy input. Its traced run also drives the write path on
    the same input (``lineage_pass``): per-chunk lineage commits into a
    fresh store, killed after half the commits, then resumed to a
    complete store. That runs once, cold, without ``gt_entities``; see
    ``SIZING.md`` for why the write path is not a timed workload."""

    SNAPSHOT = "bench"
    N_BUCKETS = 4
    BUCKETS_PER_COMMIT = 2

    @property
    def commits(self) -> int:
        return -(-self.N_BUCKETS // self.BUCKETS_PER_COMMIT)

    def _lineage_rows(self, store: str) -> list:
        from icdar_2019_rrc_sroie_spark.plans.lineage import lineage_table

        return lineage_table(self.spark, store) \
            .filter(F.col("snapshot_id") == self.SNAPSHOT).collect()

    def _commit(self, store: str, max_commits: int | None):
        from icdar_2019_rrc_sroie_spark.plans.lineage import run_with_resume

        return run_with_resume(
            self.spark, self.transcripts, store, self.SNAPSHOT,
            n_buckets=self.N_BUCKETS,
            buckets_per_commit=self.BUCKETS_PER_COMMIT,
            max_commits=max_commits)

    def lineage_pass(self) -> dict:
        """The killed run plus the resume; the lineage count in between
        is bookkeeping and is excluded from ``timed_s``."""
        store = os.path.join(self.run_dir, "store")
        t0 = time.perf_counter()
        self._commit(store, max_commits=self.commits // 2)
        killed_s = time.perf_counter() - t0
        before = len(self._lineage_rows(store))
        t1 = time.perf_counter()
        self._commit(store, max_commits=None)
        resume_s = time.perf_counter() - t1
        return {"store": store, "timed_s": killed_s + resume_s,
                "resume_s": resume_s, "committed_before": before}

    def verify(self, passes: list[dict]) -> None:
        """As for every extraction pass, plus for the lineage pass: every
        bucket is covered once, the resume recomputed exactly the
        uncommitted buckets, and ``read_spans`` matches the ground
        truth."""
        from icdar_2019_rrc_sroie_spark.plans.lineage import read_spans

        super().verify(passes)
        ref = self.reference()
        for p in passes:
            if "store" not in p:
                continue
            rows = self._lineage_rows(p["store"])
            buckets = sorted(r["bucket"] for r in rows)
            if buckets != list(range(self.N_BUCKETS)):
                p["errors"].append(f"lineage buckets {buckets}")
            p["recomputed"] = len(rows) - p["committed_before"]
            if p["recomputed"] != self.N_BUCKETS - p["committed_before"]:
                p["errors"].append(
                    f"resume recomputed {p['recomputed']} buckets, "
                    f"{self.N_BUCKETS - p['committed_before']} uncommitted")
            got = _sig(read_spans(self.spark, p["store"], self.SNAPSHOT)
                       .agg(*[a.alias(k) for k, a in
                              span_signature().items()])
                       .collect()[0].asDict())
            if got != ref:
                p["errors"].append(f"read_spans {got} != ground truth {ref}")

    def lineage_layers(self, lin: dict, extract_s: float) -> dict:
        """Lineage metrics of a finished ``lineage_pass``; ``extract_s``
        is a one-shot extraction's wall time, the part of the commits
        that is not writing."""
        from icdar_2019_rrc_sroie_spark.plans.lineage import read_spans

        rows = self._lineage_rows(lin["store"])
        counts = [r["span_count"] for r in rows]
        med = statistics.median(counts) if counts else 0
        files = [os.path.join(d, f) for d, _, fs in os.walk(lin["store"])
                 for f in fs if f.endswith(".parquet")]
        self.spark.sparkContext.setJobGroup("lineage.read", "read")
        t0 = time.perf_counter()
        materialize(read_spans(self.spark, lin["store"], self.SNAPSHOT))
        return {
            "lineage.commits": self.commits,
            "lineage.write_s": lin["timed_s"] - extract_s,
            "lineage.read_s": time.perf_counter() - t0,
            "lineage.resume_s": lin["resume_s"],
            "lineage.bytes_written": sum(os.path.getsize(f) for f in files),
            "lineage.files_written": len(files),
            "lineage.bucket_skew": max(counts) / med if med else 0.0,
            "lineage.buckets_recomputed":
                len(rows) - lin["committed_before"],
        }


#: ``settle``: untimed passes after the set-up's warm-up pass, in both
#: modes. The JIT keeps cutting a pass's CPU time for about ten passes;
#: a fixed count of settle passes (not a settle time) puts the timed
#: passes at the same point of that curve on a slow host as on a fast one.
WORKLOADS = {
    "chat_scan": {
        "cls": Extraction, "size": 20_000, "settle": 2,
        "input": {"receipt_per_mille": 30, "long_every": 97, "n_files": 64},
    },
    "receipt_scan": {
        "cls": ReceiptScan, "size": 2_000, "settle": 2,
        "input": {"receipt_per_mille": 900, "long_every": 29, "n_files": 16},
    },
}
