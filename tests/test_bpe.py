"""Trained-BPE tokenizer (round 5): trainer determinism, canonical
greedy semantics, kernel-vs-independent-oracle parity, and the Spark
Arrow seam."""

import hashlib
import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from icdar_2019_rrc_sroie_spark.operators.bpe import (  # noqa: E402
    bpe_profile,
    default_merges_path,
    encode_word,
    load_merges,
)
from icdar_2019_rrc_sroie_spark.operators.dedup import (  # noqa: E402
    BPE_TOKEN_PATTERN,
)

SEP = "\x1f"


def _encode_replace_oracle(word: str, merges: list[tuple[str, str]]):
    """Independent implementation: separator-wrapped string + replace —
    the same representation the DuckDB oracle uses, none of the
    kernel's list code."""
    s = "".join(SEP + c + SEP for c in word)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    while True:
        best = None
        for (a, b), r in ranks.items():
            if SEP + a + SEP + SEP + b + SEP in s:
                if best is None or r < best[0]:
                    best = (r, a, b)
        if best is None:
            break
        _, a, b = best
        s = s.replace(SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP)
    return [t for t in s.split(SEP) if t]


def test_trainer_is_deterministic(tmp_path):
    import subprocess

    out = tmp_path / "merges.json"
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "train_bpe.py"),
         str(out)],
        check=True, capture_output=True)
    with open(default_merges_path()) as f:
        assert json.loads(out.read_text()) == json.load(f)


def test_canonical_fixpoint_not_sequential_apply():
    # a later merge assembles the operand of an earlier one: the
    # canonical loop must go back for it (sequential one-pass-per-merge
    # application would stop at [ab, ab])
    merges = [("ab", "ab"), ("a", "b")]
    ranks = {m: i for i, m in enumerate(merges)}
    assert encode_word("abab", ranks) == ["abab"]
    assert _encode_replace_oracle("abab", merges) == ["abab"]


def test_merge_all_occurrences_left_to_right():
    merges = [("a", "a")]
    ranks = {m: i for i, m in enumerate(merges)}
    assert encode_word("aaa", ranks) == ["aa", "a"]
    assert encode_word("aaaa", ranks) == ["aa", "aa"]
    assert _encode_replace_oracle("aaa", merges) == ["aa", "a"]


def test_kernel_matches_replace_oracle_on_corpus_words():
    import duckdb

    merges = load_merges()
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    texts = [r[0] for r in duckdb.sql(
        "SELECT text FROM '/root/testdata/sf0.001/documents.parquet' "
        "ORDER BY doc_id").fetchall()]
    pat = re.compile(BPE_TOKEN_PATTERN)
    words = sorted({w for t in texts for w in pat.findall(t)})
    assert len(words) > 20
    n_split = 0
    for w in words:
        got = encode_word(w, ranks)
        assert got == _encode_replace_oracle(w, merges), w
        assert "".join(got) == w
        n_split += len(got) > 1
    # the 64-merge vocabulary must be mid-granularity: some words
    # split, some merged whole (guards against retraining to
    # exhaustion, where every in-corpus word is one token)
    assert 0 < n_split < len(words)


def test_bpe_profile_spark_matches_python(spark):
    merges = load_merges()
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 40")
    got = {r["doc_id"]: (r["n_bpe_true_tokens"], r["bpe_stream_md5"])
           for r in bpe_profile(docs).collect()}
    pat = re.compile(BPE_TOKEN_PATTERN)
    for r in docs.select("doc_id", "text").collect():
        stream = []
        for w in pat.findall(r["text"]):
            stream.extend(encode_word(w, ranks))
        want = (len(stream),
                hashlib.md5(SEP.join(stream).encode()).hexdigest())
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_bpe_profile_empty_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "customer order")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bpe_profile(df).collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert rows[1]["n_bpe_true_tokens"] == 0
    assert rows[1]["bpe_stream_md5"] == empty_md5
    assert rows[2]["n_bpe_true_tokens"] == 0
    assert rows[2]["bpe_stream_md5"] == empty_md5
    assert rows[3]["n_bpe_true_tokens"] >= 2


@pytest.mark.parametrize("word", ["", "x", "  ", "a'b\"c"])
def test_encode_word_edge_cases(word):
    merges = load_merges()
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    got = encode_word(word, ranks)
    assert "".join(got) == word
    assert got == _encode_replace_oracle(word, merges)


def test_bpe_oracle_matches_kernel_on_whitespace_variants(spark):
    """Round-5 review repro, pinned: newline pretokens (RE2 '.' excludes
    \\n unless the 's' flag is set) and NBSP (Python Unicode \\s vs the
    ASCII \\s of Java/RE2) diverged the DuckDB oracle from the pandas
    kernel — both engines must produce identical counts AND stream
    hashes on texts containing them."""
    import duckdb

    from icdar_2019_rrc_sroie_spark.operators.bpe import bpe_sql_ctes

    texts = ["hello\nworld", "a\xa0b", "tab\tseparated",
             "multi\n\nnewline \n mix", "customer order total"]
    rows = [(i, t) for i, t in enumerate(texts)]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {r[0]: (r[1], r[2]) for r in con.sql(
        "WITH RECURSIVE " + bpe_sql_ctes()
        + " SELECT doc_id, n_bpe_true_tokens, bpe_stream_md5 FROM bpe_doc"
    ).fetchall()}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bpe_true_tokens"], r["bpe_stream_md5"])
           for r in bpe_profile(df).collect()}
    assert got == want
    # the newline doc must actually count its \n pretoken
    assert got[0][0] >= 3


def test_bpe_token_arrays_replay_ids_and_unit_sep(spark):
    """Round-6 packing face: toks/ids are the cached greedy apply plus
    trained-vocab lookups (merge products at 129+rank, ASCII at cp+1,
    else <unk>=0); U+001F is stripped BEFORE pretokenizing in both
    engines (it is the stream/oracle separator); drop_empty mirrors
    doc_token_arrays."""
    import re

    from icdar_2019_rrc_sroie_spark.operators.bpe import (
        BPE_TOKEN_PATTERN,
        bpe_token_arrays,
        bpe_vocab,
        encode_word,
        load_merges,
    )

    merges = load_merges()
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    vocab = bpe_vocab(merges)
    rows = [(1, "Hello world, totals are 123.45!"),
            (2, "strip\x1fthe unit\x1f sep"),
            (3, "café résumé — unicode falls to unk"),
            (4, ""), (5, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (list(r["toks"]), list(r["ids"]), r["n_tokens"])
           for r in bpe_token_arrays(df).collect()}
    pat = re.compile(BPE_TOKEN_PATTERN, re.ASCII)
    for i, t in rows:
        stream = [tok for w in pat.findall(t.replace("\x1f", ""))
                  for tok in encode_word(w, ranks)]
        if not stream:
            assert i not in got  # drop_empty
            continue
        ids = [vocab.get(tok, 0) for tok in stream]
        assert got[i] == (stream, ids, len(stream)), i
    # non-ASCII base chars map to <unk>, ASCII ones to cp+1
    assert 0 in got[3][1]
    # kept rows under drop_empty=False: empty docs with empty arrays
    kept = {r["doc_id"]: list(r["toks"])
            for r in bpe_token_arrays(df, drop_empty=False).collect()}
    assert kept[4] == [] and set(kept) == {1, 2, 3, 4, 5}
    # U+001F never changes the tokenization vs pre-stripped text
    assert got[2][0] == [
        tok for w in pat.findall("stripthe unit sep")
        for tok in encode_word(w, ranks)]


def test_distributed_trainer_matches_inmemory_reference(spark):
    """Round 6: the Spark-native trainer (one corpus scan, then
    delta-maintained pair counts over the distinct-word table) must
    reproduce the in-memory Sennrich trainer's merge sequence
    byte-identically — same argmax, same tie-break, same apply
    semantics — on a corpus with real ties and multi-merge words."""
    from tools.train_bpe import train_merges, word_counts

    from icdar_2019_rrc_sroie_spark.operators.bpe import (
        train_merges_distributed,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 50")
    texts = [r["text"] for r in docs.select("text").collect()]
    want = train_merges(word_counts(texts), 14)
    got = train_merges_distributed(docs, 14)
    assert got == want


def test_merge_fold_equals_imperative_walk(spark):
    """The Catalyst fold applies a merge exactly like encode_word's
    imperative walk: all occurrences, left-to-right, non-overlapping
    (the aa/aa chain is the classic trap)."""
    from pyspark.sql import functions as F

    from icdar_2019_rrc_sroie_spark.operators.bpe import _merge_fold

    cases = [
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["x", "a", "b", "a", "b", "y"], ("a", "b"), ["x", "ab", "ab", "y"]),
        (["a", "b"], ("b", "a"), ["a", "b"]),
        (["q"], ("a", "b"), ["q"]),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)],
        "i long, syms array<string>")
    for i, (syms, (a, b), want) in enumerate(cases):
        got = df.filter(F.col("i") == i).select(
            _merge_fold(F.col("syms"), a, b).alias("m")).collect()[0]["m"]
        assert list(got) == want, (syms, a, b)


def test_distributed_trainer_resume_after_crash(spark, tmp_path):
    """Round 6: resumable training. Inject a crash after merge 3's
    commit, corrupt the NON-committed slot (simulating a crash
    mid-write of the next iteration), resume — the final merge
    sequence is identical to an uninterrupted run, and a second
    resume call is a no-op returning the same result."""
    import glob as g
    import json

    import pytest

    from icdar_2019_rrc_sroie_spark.operators.bpe import (
        train_merges_distributed,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 50")
    want = train_merges_distributed(docs, 10)
    rd = str(tmp_path / "bpe-resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        train_merges_distributed(
            docs, 10, resume_dir=rd, fail_after_merge=3)
    with open(rd + "/state.json") as f:
        st = json.load(f)
    assert len(st["merges"]) == 4
    dead = 1 - st["i"] % 2
    for p in g.glob(f"{rd}/words-{dead}/*"):
        with open(p, "w") as f:
            f.write("junk: simulated torn write")
    got = train_merges_distributed(docs, 10, resume_dir=rd)
    assert got == want
    assert train_merges_distributed(docs, 10, resume_dir=rd) == want


def test_resume_with_smaller_budget_returns_prefix(spark, tmp_path):
    """A state dir trained to 10 merges answers an 8-merge request
    with the exact 8-merge prefix — never a later state."""
    from icdar_2019_rrc_sroie_spark.operators.bpe import (
        train_merges_distributed,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").filter("doc_id < 50")
    rd = str(tmp_path / "bpe-prefix")
    full = train_merges_distributed(docs, 10, resume_dir=rd)
    assert train_merges_distributed(docs, 8, resume_dir=rd) == full[:8]
