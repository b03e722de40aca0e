"""Property tests: the vectorized segmented kernels in functions.fast_hash
must equal a direct per-document Python implementation of the documented
folds for ARBITRARY inputs — empty docs, exotic unicode, repeated spaces,
docs shorter than the shingle.  The reference folds here are also what
the Spark-side operator tests (tests/test_operators.py) compare the
mapInPandas operators against on the fixtures."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cassandra_cql_streaming_db_migrator_spark.functions.fast_hash import (
    minhash_signatures,
    ngram_hash_lists,
    simhash_values,
)
from cassandra_cql_streaming_db_migrator_spark.functions.hashing import (
    MINHASH_P,
    MINHASH_PERMS,
    POLY_MOD,
    SIMHASH_MOD,
)

# printable-ish unicode incl. multi-byte, no surrogates
texts_strategy = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FA1, blacklist_categories=["Cs"]),
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


def _poly(s: str, mod: int) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % mod
    return h


def _ref_shingle_hashes(text: str, n: int) -> set[int]:
    if len(text) < n:
        return {_poly(text, POLY_MOD)}
    return {_poly(text[i : i + n], POLY_MOD) for i in range(len(text) - n + 1)}


def _ref_minhash(text: str, n: int) -> list[int]:
    hs = _ref_shingle_hashes(text, n)
    return [min((a * h + b) % MINHASH_P for h in hs) for a, b in MINHASH_PERMS]


def _ref_simhash(text: str) -> int:
    tokens = text.split(" ")
    hashes = [_poly(t, SIMHASH_MOD) for t in tokens]
    out = 0
    for k in range(53):
        votes = sum(1 if (h >> k) & 1 else -1 for h in hashes)
        if votes > 0:
            out |= 1 << k
    return out


@settings(max_examples=120, deadline=None)
@given(texts_strategy, st.sampled_from([3, 5]))
def test_minhash_matches_reference(texts, shingle_len):
    got = minhash_signatures(texts, shingle_len)
    for i, t in enumerate(texts):
        assert got[i].tolist() == _ref_minhash(t, shingle_len), repr(t)


@settings(max_examples=120, deadline=None)
@given(texts_strategy)
def test_simhash_matches_reference(texts):
    got = simhash_values(texts)
    for i, t in enumerate(texts):
        assert int(got[i]) == _ref_simhash(t), repr(t)


@settings(max_examples=120, deadline=None)
@given(texts_strategy, st.sampled_from([2, 3]))
def test_ngram_sets_match_reference(texts, n):
    got = ngram_hash_lists(texts, n)
    for i, t in enumerate(texts):
        assert sorted(got[i].tolist()) == sorted(_ref_shingle_hashes(t, n)), repr(t)


def test_kernels_are_batch_invariant():
    """Computing docs together or one at a time gives identical results —
    the property that makes the mapInPandas operators partition-proof."""
    texts = ["", "ab", "the quick brown fox", "aaaa aaaa aaaa", "x" * 100, "é ü π"]
    whole = minhash_signatures(texts, 5)
    single = np.concatenate([minhash_signatures([t], 5) for t in texts])
    assert np.array_equal(whole, single)
    assert np.array_equal(
        simhash_values(texts), np.concatenate([simhash_values([t]) for t in texts])
    )


def _ref_word_ngram_keys(text, n):
    from cassandra_cql_streaming_db_migrator_spark.functions.fast_hash import (
        _GRAM_BASE1,
        _GRAM_BASE2,
        _WORD_BASE2,
    )

    if not isinstance(text, str):
        return set()
    words = text.split(" ")
    out = set()
    for i in range(len(words) - n + 1):
        g1 = g2 = 0
        for w in words[i : i + n]:
            h1 = _poly(w, POLY_MOD)
            h2 = 0
            for ch in w:
                h2 = (h2 * _WORD_BASE2 + ord(ch)) % MINHASH_P
            g1 = (g1 * _GRAM_BASE1 + h1) % POLY_MOD
            g2 = (g2 * _GRAM_BASE2 + h2) % MINHASH_P
        out.add(g1 * 2**31 + g2)
    return out


@settings(max_examples=120, deadline=None)
@given(texts_strategy, st.sampled_from([2, 3]))
def test_word_ngram_keys_match_reference(texts, n):
    from cassandra_cql_streaming_db_migrator_spark.functions.fast_hash import (
        word_ngram_keys,
    )

    doc_idx, keys = word_ngram_keys(texts, n)
    got = {i: set() for i in range(len(texts))}
    for d, k in zip(doc_idx.tolist(), keys.tolist()):
        got[d].add(k)
    want = {i: _ref_word_ngram_keys(t, n) for i, t in enumerate(texts)}
    assert got == want
