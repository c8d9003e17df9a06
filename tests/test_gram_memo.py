"""Parity of the worker-global gram memo and the vectorized overlap-count
kernel (_gram_entry/_gram_rows/_pair_counts) against brute-force string
n-gram set math, including the past-cap sorted-array fallback."""

import numpy as np
import pytest

from logparse_rs_spark.operators import dedup as D


def _brute_common(a: str, b: str, n: int) -> tuple:
    ga = {a[i:i + n] for i in range(len(a) - n + 1)} if len(a) >= n else set()
    gb = {b[i:i + n] for i in range(len(b) - n + 1)} if len(b) >= n else set()
    return len(ga & gb), len(ga), len(gb)


def _all_pair_counts(texts, n):
    """{(a, b): (n_common, n_a, n_b)} over every ordered text pair, scored
    as one batch by the kernel."""
    rows = D._gram_rows(texts, n)
    ra, rb = np.divmod(np.arange(len(texts) ** 2), len(texts))
    got = zip(*D._pair_counts(rows, ra, rb))
    return {(texts[a], texts[b]): tuple(map(int, c))
            for a, b, c in zip(ra, rb, got)}


@pytest.fixture(autouse=True)
def _fresh_memo():
    D._GRAM_MEMO.clear()
    D._GRAM_BITS.clear()
    yield
    D._GRAM_MEMO.clear()
    D._GRAM_BITS.clear()


TEXTS = ["spark fast row", "spark slow row", "", "ab", "abc",
         "the same the same the same", "xyzzy plugh", "spark fast row"]


@pytest.mark.parametrize("n", [2, 3])
def test_mask_path_matches_brute(n):
    got = _all_pair_counts(TEXTS, n)
    assert all(D._gram_entry(t, n)[2] is not None for t in TEXTS)
    for (a, b), counts in got.items():
        assert counts == _brute_common(a, b, n)


def test_cap_fallback_matches(monkeypatch):
    monkeypatch.setattr(D, "_GRAM_BITS_CAP", 8)
    rng = np.random.default_rng(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    texts = ["".join(rng.choice(list(alphabet), 40)) for _ in range(20)]
    masked = sum(1 for t in texts if D._gram_entry(t, 3)[2] is not None)
    assert masked < len(texts)  # the cap actually forced fallbacks
    for (a, b), counts in _all_pair_counts(texts, 3).items():
        assert counts[0] == _brute_common(a, b, 3)[0]


def test_mixed_mask_and_array_pairs(monkeypatch):
    monkeypatch.setattr(D, "_GRAM_BITS_CAP", 6)
    a = "abcabcabc"        # few distinct grams -> gets a mask
    b = "qrstuvwxyz"       # pushes past the cap -> no mask
    ea, eb = D._gram_entry(a, 3), D._gram_entry(b, 3)
    assert ea[2] is not None and eb[2] is None
    got = _all_pair_counts([a, b], 3)
    assert got[(a, b)][0] == _brute_common(a, b, 3)[0]
    assert got[(a, a)][0] == ea[1]
    assert got[(b, b)][0] == eb[1]


def test_memo_clear_keeps_masks_valid():
    e1 = D._gram_entry("spark fast", 3)
    D._GRAM_MEMO.clear()  # simulate the size-cap purge; bit index stays
    e2 = D._gram_entry("spark fast", 3)
    assert e1[2] == e2[2]
    inter, _, _ = D._pair_counts(D._gram_rows(["spark fast"], 3),
                                 np.array([0]), np.array([0]))
    assert inter[0] == e1[1]
