"""Property-based parity tests (hypothesis) for the byte-level kernels.

The vectorized numpy/pandas kernels are the hot path the Spark UDFs run;
the scalar forms are the canonical reference semantics (pinned against
the reference's tokenizer/hasher in test_kernels.py). These properties
assert the two stay EQUAL on arbitrary generated input — the class of
bug unit fixtures miss (padding/masking in the FNV byte matrix, the
quote-free fast path's equivalence claim, index alignment under nulls).
"""

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from logparse_rs_spark.kernels import (extract_field, fnv1a_hash64,
                                       fnv1a_series, split_csv,
                                       split_csv_series,
                                       strip_syslog_prefix,
                                       strip_syslog_prefix_series,
                                       tokenize_series, tokenize_value)

# text that leans into the tokenizer's special characters, plus general
# unicode (hypothesis' default text excludes surrogates, matching the
# valid-utf-8 contract of the byte kernels)
_csvish = st.text(alphabet=st.sampled_from('ab",\n 1x'), max_size=40)
_general = st.text(max_size=60)
_line = st.one_of(_csvish, _general)


class TestFnvSeriesParity:
    @settings(max_examples=150, deadline=None)
    @given(st.lists(_general, max_size=25),
           st.binary(max_size=12))
    def test_matches_scalar_fold(self, vals, prefix):
        s = pd.Series(vals, dtype=object)
        got = fnv1a_series(s, prefix=prefix)
        want = np.array(
            [fnv1a_hash64(prefix + v.encode("utf-8", errors="ignore"))
             for v in vals], dtype=np.uint64)
        assert np.array_equal(got, want)

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.one_of(st.none(), _general), min_size=1,
                    max_size=15))
    def test_nulls_hash_as_empty(self, vals):
        s = pd.Series(vals, dtype=object)
        got = fnv1a_series(s)
        want = np.array([fnv1a_hash64(v or "") for v in vals],
                        dtype=np.uint64)
        assert np.array_equal(got, want)


class TestSplitCsvParity:
    @settings(max_examples=200, deadline=None)
    @given(st.lists(_line, max_size=20))
    def test_series_matches_scalar(self, lines):
        s = pd.Series(lines, dtype=object)
        got = split_csv_series(s).tolist()
        assert got == [split_csv(ln) for ln in lines]

    @settings(max_examples=150, deadline=None)
    @given(_line.filter(lambda t: '"' not in t and t != ""))
    def test_quote_free_fast_path_equivalence(self, line):
        # the vectorized fast path IS str.split(',') for quote-free
        # non-empty lines; this is the claim that makes it sound
        assert split_csv(line) == line.split(",")

    @settings(max_examples=150, deadline=None)
    @given(_line, st.integers(min_value=0, max_value=12))
    def test_extract_field_contract(self, line, idx):
        fields = split_csv(line)
        got = extract_field(line, idx)
        if idx < len(fields):
            assert got == fields[idx]
        elif idx == len(fields):
            assert got == (None if line.endswith(",") else "")
        else:
            assert got is None


class TestSyslogStripParity:
    @settings(max_examples=150, deadline=None)
    @given(st.lists(_line, max_size=20))
    def test_series_matches_scalar(self, lines):
        s = pd.Series(lines, dtype=object)
        got = strip_syslog_prefix_series(s).tolist()
        assert got == [strip_syslog_prefix(ln) for ln in lines]


class TestTokenizeParity:
    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.one_of(st.none(), _general), max_size=15),
           _general, _general, _general)
    # NumPy fixed-width strings drop trailing NULs: a prefix ending in
    # "\x00" must survive the vectorized concatenation
    @example(vals=["a", None, ""], prefix="\x00", fsalt="", dsalt="")
    @example(vals=["a", None, ""], prefix="A\x00", fsalt="", dsalt="")
    def test_series_matches_scalar(self, vals, prefix, fsalt, dsalt):
        s = pd.Series(vals, dtype=object)
        got = tokenize_series(s, prefix, fsalt, dsalt).tolist()
        want = [None if v is None
                else tokenize_value(prefix, fsalt, dsalt, v)
                for v in vals]
        assert got == want
