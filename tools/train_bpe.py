"""Offline BPE trainer — corpus-trained merge rules for the engine's
true-token counter (round 5, VERDICT r4 'Next round' #8: the former
``bpe_token_count`` counts pretokens; real pipelines need trained
merges).

Classic Sennrich-style training over the sf0.01 ``documents`` corpus:
pretokenize with the shared lookahead-free GPT-style pattern
(``operators/dedup.py:BPE_TOKEN_PATTERN`` — the same regex the profile
query and the DuckDB oracle use), then repeatedly merge the
highest-frequency adjacent symbol pair. Fully deterministic: ties
break on the lexicographically smallest (a, b) pair, so rerunning
reproduces ``icdar_2019_rrc_sroie_spark/models/bpe_merges.json``
byte-exactly (pinned by tests/test_bpe.py).

Usage: python tools/train_bpe.py [out.json] [n_merges]
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icdar_2019_rrc_sroie_spark.operators.bpe import (  # noqa: E402
    default_merges_path,
)
from icdar_2019_rrc_sroie_spark.operators.dedup import (  # noqa: E402
    BPE_TOKEN_PATTERN,
)

CORPUS = "/root/testdata/sf0.01/documents.parquet"
# The synthetic documents corpus has a ~61-word vocabulary; training to
# exhaustion (127 merges) turns every in-corpus word into a single
# token, which makes the tokenizer trivially equal to the pretokenizer
# on its own corpus. 64 merges leaves most words at 2-4 tokens — a
# mid-granularity vocabulary that actually exercises merge application.
N_MERGES = 64


def word_counts(texts: list[str]) -> Counter:
    # re.ASCII: same \s semantics as the Java/RE2 consumers (see
    # operators/bpe.py) so training pretokenizes like apply does.
    # U+001F is stripped exactly as distributed_word_counts and the
    # apply/profile kernels do (ADVICE r6): without it the two
    # trainers would diverge on a corpus containing the separator.
    pat = re.compile(BPE_TOKEN_PATTERN, re.ASCII)
    counts: Counter = Counter()
    for t in texts:
        counts.update(pat.findall(t.replace("\x1f", "")))
    return counts


def train_merges(counts: Counter, n_merges: int) -> list[tuple[str, str]]:
    vocab = {w: (list(w), c) for w, c in counts.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.values():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # deterministic: max count, ties to the lexicographically
        # smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, (syms, c) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, c)
    return merges


def main() -> None:
    import duckdb

    args = [a for a in sys.argv[1:] if a != "--distributed"]
    distributed = "--distributed" in sys.argv[1:]
    out = args[0] if args else default_merges_path()
    n_merges = int(args[1]) if len(args) > 1 else N_MERGES
    if distributed:
        # Spark-native training (round 6): must reproduce the committed
        # model byte-exactly — the cross-trainer determinism check
        from icdar_2019_rrc_sroie_spark.operators.bpe import (
            load_merges,
            train_merges_distributed,
        )
        from icdar_2019_rrc_sroie_spark.session import get_spark

        spark = get_spark("bpe-train")
        spark.sparkContext.setLogLevel("ERROR")
        merges = train_merges_distributed(
            spark.read.parquet(CORPUS), n_merges)
        committed = load_merges()
        assert merges == committed, (
            "distributed trainer diverged from the committed model: "
            f"first diff at rank "
            f"{next(i for i, (m, c) in enumerate(zip(merges, committed)) if m != c)}")
        print(f"distributed trainer: {len(merges)} merges — "
              "byte-identical to the committed model")
        return
    texts = [r[0] for r in duckdb.sql(
        f"SELECT text FROM '{CORPUS}' ORDER BY doc_id").fetchall()]
    counts = word_counts(texts)
    merges = train_merges(counts, n_merges)
    with open(out, "w") as f:
        json.dump([list(m) for m in merges], f, ensure_ascii=False,
                  separators=(",", ":"))
    print(f"{out}: {len(merges)} merges from {len(counts)} distinct "
          f"pretokens / {sum(counts.values())} occurrences")


if __name__ == "__main__":
    main()
