"""One definition of a token.

Every tokenizer splits on ``functions/text.WS`` (``[ \\t\\n\\f\\r]+``,
RE2's whitespace class). The probe texts hold separators that other
classes disagree on: Java's adds ``\\v``, Python's ``str.split`` and
``re`` add the Unicode ones. Each path must give the reference's tokens.
"""

import ast
import math
from datetime import datetime
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from podcast_audio_feature_extraction_spark.functions.embedding import _token_slot, with_embedding
from podcast_audio_feature_extraction_spark.functions.text import (
    URL_PATTERN,
    _extract_all,
    bpe_token_count_col,
    bpe_token_count_sql,
    quality_cols,
    quality_sql,
    shingles_col,
    split_ws,
    tokens_col,
    tokens_sql,
)
from podcast_audio_feature_extraction_spark.operators.rolling import token_count
from podcast_audio_feature_extraction_spark.operators.search import (
    bm25_topk,
    bm25_topk_fused,
    conv_dimension,
)
from podcast_audio_feature_extraction_spark.operators.segments import build_segments
from podcast_audio_feature_extraction_spark.oracle.numpy_oracle import _tokens, embed_text_oracle

# not separators: vertical tab, NBSP, file separator, NEL, em space
ODD = ["\x0b", "\xa0", "\x1c", "\x85", "\u2003"]
# a vertical tab inside the regex twins' character classes (BPE, punct, URL)
VT_PROBE = "a\x0bb http://x.io\x0bnext"
PROBES = [f"alpha{c}beta gamma" for c in ODD] + [
    "alpha\tbeta\ngamma\fdelta\rgamma",
    " \t lead and trail \r\n",
    VT_PROBE,
    "",
    None,
]


def test_reference_tokens_are_the_ws_class():
    for c in ODD:
        assert _tokens(f"alpha{c}beta gamma") == [f"alpha{c}beta", "gamma"]
        assert split_ws(f"alpha{c}beta gamma") == [f"alpha{c}beta", "gamma"]
    assert _tokens("alpha\tbeta\ngamma\fdelta\rgamma") == ["alpha", "beta", "gamma", "delta", "gamma"]
    for t in PROBES[:-1]:
        assert split_ws(t) == _tokens(t)
    assert _tokens(None) == []


def _probe_frame(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(PROBES)], "id int, text string"
    )


def test_spark_columns_split_like_the_reference(spark):
    rows = (
        _probe_frame(spark)
        .select(
            "id",
            "text",
            tokens_col(F.col("text")).alias("toks"),
            token_count(F.col("text")).alias("n"),
            shingles_col(F.col("text"), 1).alias("sh1"),
            shingles_col(F.col("text"), 2).alias("sh2"),
        )
        .collect()
    )
    assert len(rows) == len(PROBES)
    for r in rows:
        want = _tokens(r["text"])
        assert r["toks"] == want, repr(r["text"])
        assert r["n"] == len(want), repr(r["text"])
        for k, got in ((1, r["sh1"]), (2, r["sh2"])):
            grams = [" ".join(want[i : i + k]) for i in range(len(want) - k + 1)]
            fallback = [r["text"] or ""]
            assert got == (list(dict.fromkeys(grams)) if len(want) >= k else fallback), repr(r["text"])


def test_embedding_udf_splits_like_the_reference(spark):
    rows = with_embedding(_probe_frame(spark), dim=16).collect()
    for r in rows:
        vec = np.zeros(16)
        for tok in split_ws(r["text"] or ""):
            idx, sgn = _token_slot(tok, 16)
            vec[idx] += sgn
        norm = np.linalg.norm(vec)
        from_tokens = vec / norm if norm > 0 else vec
        got = np.array(r["embedding"])
        np.testing.assert_array_equal(got, from_tokens)
        np.testing.assert_allclose(got, embed_text_oracle(r["text"], dim=16), rtol=0, atol=1e-15)


def test_duckdb_twin_splits_like_the_reference():
    con = duckdb.connect()
    con.register("texts", pd.DataFrame({"id": range(len(PROBES)), "text": PROBES}))
    toks = tokens_sql("COALESCE(text,'')")
    got = con.sql(f"SELECT id, {toks} AS t FROM texts ORDER BY id").fetchall()
    for (_, toks), text in zip(got, PROBES):
        assert toks == _tokens(text), repr(text)


def test_regex_twins_read_a_vertical_tab_as_re2_does(spark):
    """The BPE count, the punctuation ratio and the URL match keep their
    DuckDB text verbatim, where RE2's ``\\s`` excludes ``\\v``; Spark
    spells each ``\\s`` as the WS class, so both engines take a vertical
    tab for punctuation, not a space."""
    con = duckdb.connect()
    con.register("texts", pd.DataFrame({"text": [VT_PROBE]}))
    duck = con.sql(
        f"SELECT {bpe_token_count_sql('text')}, {quality_sql('text')['punct_ratio']}, "
        f"regexp_extract_all(text, '{URL_PATTERN}') FROM texts"
    ).fetchone()
    text = F.col("text")
    got = (
        spark.createDataFrame([(VT_PROBE,)], "text string")
        .select(
            bpe_token_count_col(text),
            quality_cols(text)["punct_ratio"],
            _extract_all(text, URL_PATTERN),
        )
        .first()
    )
    assert tuple(duck) == (12, 0.3, ["http://x.io\x0bnext"])
    assert tuple(got) == tuple(duck)


def _bm25_ref(docs: dict[str, list[str]], terms: list[str], k1=1.2, b=0.75) -> dict[str, float]:
    """Lucene BM25 of one field, straight from the reference tokens."""
    n = len(docs)
    avgdl = sum(len(d) for d in docs.values()) / n
    out = {}
    for doc_id, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            df = sum(t in d for d in docs.values())
            if tf:
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(toks) / max(avgdl, 1e-9)))
        out[doc_id] = s
    return out


# the query repeats a term and holds whole odd-separator tokens, which
# a Unicode split would cut in two
QUERY = "gamma alpha\x0bbeta alpha\xa0beta alpha beta alpha gamma"
TEXTS = [t for t in PROBES if t] + ["alpha beta", "gamma gamma"]


def test_bm25_tf_splits_like_the_reference(spark):
    terms = _tokens(QUERY.lower())
    # one segment per text, no conversation dimension: boost 2 x one field
    segs = spark.createDataFrame(
        [(f"c{i}_0", t) for i, t in enumerate(TEXTS)], "seg_id string, seg_words string"
    )
    ref = _bm25_ref({f"c{i}_0": _tokens(t) for i, t in enumerate(TEXTS)}, terms)
    want = {s: round(2.0 * v, 6) for s, v in ref.items() if round(2.0 * v, 6) > 0}
    got = {r["seg_id"]: r["bm25"] for r in bm25_topk(segs, QUERY).collect()}
    assert got.keys() == want.keys()
    for s in want:
        assert got[s] == pytest.approx(want[s], abs=2e-6), s


def test_bm25_fused_tf_splits_like_the_reference(spark):
    """One turn per conversation: each turn lands in two 120 s windows, and
    its conversation dimension is its own text, so every segment scores
    max(2 x words, 1 x dim) over the same tokens."""
    terms = _tokens(QUERY.lower())
    t = spark.createDataFrame(
        [(f"c{i}", 0, "user", txt, datetime(2024, 1, 1, 0, 0, 30)) for i, txt in enumerate(TEXTS)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    docs = {f"c{i}/{w}": _tokens(txt) for i, txt in enumerate(TEXTS) for w in (0, 1)}
    ref = _bm25_ref(docs, terms)
    want = sorted((d.split("/")[0], round(2.0 * v, 6)) for d, v in ref.items() if round(2.0 * v, 6) > 0)
    for frame in (
        bm25_topk_fused(t, QUERY),
        bm25_topk(build_segments(t), QUERY, conv_dimension(t)),
    ):
        got = sorted((r["seg_id"].split("_")[0], r["bm25"]) for r in frame.collect())
        assert [g[0] for g in got] == [w[0] for w in want]
        np.testing.assert_allclose([g[1] for g in got], [w[1] for w in want], rtol=0, atol=2e-6)


# ---- source scan: no second tokenizer ----------------------------------

ROOT = Path(__file__).resolve().parent.parent
SCANNED = [
    *sorted((ROOT / "podcast_audio_feature_extraction_spark").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "jobs").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
]
# where a whitespace escape or the spelled-out class may appear: the
# helpers themselves, the regex patterns whose text is shared verbatim
# with their DuckDB twins (and the Spark helper that spells their escape),
# and the oracle's independent copy of the class
ALLOWED = {
    ("functions/text.py", "tokens_sql"),
    ("functions/text.py", "_extract_all"),
    ("functions/text.py", "WS"),
    ("functions/text.py", "PUNCT_PATTERN"),
    ("functions/text.py", "BPE_PATTERN"),
    ("functions/text.py", "URL_PATTERN"),
    ("oracle/numpy_oracle.py", "_WS"),
}
# a no-argument .split() parses something other than text: an option
# spec, not data
ALLOWED_SPLITS = {("operators/functionals.py", "spec")}


def _owners(tree):
    """node -> name of the enclosing def or module-level assignment."""
    owner = {}

    def visit(node, name):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            name = node.name
        elif isinstance(node, ast.Assign) and name is None and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
        owner[node] = name
        for child in ast.iter_child_nodes(node):
            visit(child, name)

    visit(tree, None)
    return owner


def test_no_second_tokenizer_in_the_source():
    bad = []
    for path in SCANNED:
        rel = str(path.relative_to(ROOT)).removeprefix("podcast_audio_feature_extraction_spark/")
        tree = ast.parse(path.read_text())
        owner = _owners(tree)
        docstrings = {
            id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docstrings:
                v = node.value
                spelled = any(c in v for c in ("[ \\t\\n\\f\\r]", "[ \t\n\f\r]"))
                if ("\\s" in v or spelled) and (rel, owner[node]) not in ALLOWED:
                    bad.append(f"{rel}:{node.lineno}: whitespace class {v[:60]!r}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("split", "rsplit")
                and not node.args
                and not node.keywords
                and not isinstance(node.func.value, ast.Constant)
            ):
                recv = ast.unparse(node.func.value)
                if (rel, recv) not in ALLOWED_SPLITS:
                    bad.append(f"{rel}:{node.lineno}: {recv}.split() — use functions/text.split_ws")
    assert not bad, "tokenize through functions/text (tokens_col / split_ws / tokens_sql):\n" + "\n".join(bad)
