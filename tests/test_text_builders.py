"""The text builders' SQL expressions against independent Python
references: fingerprint, language ID, quality stats and SimHash.

The DuckDB gates compare the engine with a second SQL engine; these
compare it with plain Python over planted documents, so an edge the
generated corpus never has (texts shorter than the fingerprint prefix,
score ties, NULL text) is still pinned."""

from __future__ import annotations

import hashlib

from ugfraud_spark.functions import text as tx
from ugfraud_spark.operators import dedup

DOCS = [
    (1, "the join query der und"),            # en 3 > de 2
    (2, "der the"),                           # de 1 = en 1 -> de
    (3, "hello world"),                       # no marker: all 0 -> de
    (4, "le la el donnees avec"),             # fr 3 > es 2
    (5, "shuju biao the join of and"),        # zh 2 = en 2 -> en
    (6, "ab"),                                # shorter than FP_LEN
    (7, ""),                                  # empty: FP_LEN spaces
    (8, "exactly thirty-two characters .."),  # len 32
    (9, "a much longer document whose tail past the prefix is ignored"),
    (10, "la joie de vivre café naïve"),  # non-ASCII code points
]


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ref_fingerprint(text: str) -> int:
    s = text.ljust(tx.FP_LEN)[: tx.FP_LEN]
    return sum(ord(c) * tx.FP_BASE ** i
               for i, c in enumerate(s)) % tx.FP_MOD


def _ref_word_count(text: str, word: str) -> int:
    return f" {text} ".count(f" {word} ")


def _ref_lang(text: str) -> str:
    langs = sorted(tx.LANG_MARKERS)
    scores = {lang: sum(_ref_word_count(text, m)
                        for m in tx.LANG_MARKERS[lang]) for lang in langs}
    return max(langs, key=scores.__getitem__)  # first maximum = smallest


def _ref_quality(text: str) -> dict:
    n_chars = len(text)
    n_tok = text.count(" ") + 1
    stop = sum(_ref_word_count(text, w) for w in tx.STOPWORDS)
    return {"n_chars": n_chars, "n_tokens": n_tok,
            "avg_token_len": round((n_chars - (n_tok - 1)) / n_tok, 6),
            "stopword_ratio": round(stop / n_tok, 6)}


def _ref_simhash(text: str) -> str:
    votes = [0] * dedup.SIMHASH_BITS
    for w in text.split(" "):
        h = hashlib.md5(w.encode("utf-8")).hexdigest()
        for b in range(dedup.SIMHASH_BITS):
            votes[b] += 1 if h[b] in "89abcdef" else -1
    return "".join("1" if v > 0 else "0" for v in votes)


def test_fingerprint_matches_python(spark):
    out = _docs(spark).selectExpr("doc_id", "text",
                                  f"{tx.fingerprint('text')} AS fp")
    got = {r["doc_id"]: (r["text"], r["fp"]) for r in out.collect()}
    assert len(got) == len(DOCS)
    for doc_id, (text, fp) in got.items():
        assert fp == _ref_fingerprint(text), (doc_id, text)


def test_predicted_lang_matches_python_with_ties(spark):
    rows = DOCS + [(11, None)]
    out = _docs(spark, rows).selectExpr(
        "doc_id", "text", f"{tx.predicted_lang('text')} AS pred")
    got = {r["doc_id"]: (r["text"], r["pred"]) for r in out.collect()}
    assert got[11] == (None, None)
    # the planted ties resolve to the smallest language
    assert got[2][1] == "de" and got[3][1] == "de" and got[5][1] == "en"
    for doc_id, (text, pred) in got.items():
        if text is not None:
            assert pred == _ref_lang(text), (doc_id, text)


def test_quality_exprs_match_python(spark):
    ex = tx.quality_exprs("text")
    out = _docs(spark).selectExpr(
        "doc_id", "text", *[f"{v} AS {k}" for k, v in ex.items()])
    for r in out.collect():
        want = _ref_quality(r["text"])
        assert {k: r[k] for k in want} == want, r["text"]


def test_simhash_matches_hashlib_votes(spark):
    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash(_docs(spark)).collect()}
    assert got == {i: _ref_simhash(t) for i, t in DOCS}
