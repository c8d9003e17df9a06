"""Vectorized pure-Python/numpy kernels implementing the canonical semantics.

These are the exact-semantics building blocks the Spark operators call from
inside Arrow-batched pandas UDFs. Canonical semantics are pinned in
SURVEY.md §8 against the reference (rmarnold/logparse_rs):

- quote-aware CSV split    -> /root/reference/crates/logparse_core/src/tokenizer.rs:67-127
- positional field extract -> tokenizer.rs:4-65 (phantom-empty edge tokenizer.rs:164-176)
- FNV-1a 64-bit hash       -> crates/logparse_core/src/lib.rs:18-25,
                              bindings/python/python/logparse_rs/rust_accel.py:318-323
- identifier sanitize      -> crates/logparse_core/src/schema.rs:39-56
- keyed-hash tokenization  -> crates/logparse_core/src/anonymizer/table.rs:28-44
- syslog prefix strip      -> examples/pan_dynamic_parser.py:828-831

All functions here are deterministic and stateless; the *_series variants are
vectorized across rows (numpy matrix ops / pandas str ops) so a per-row Python
loop only runs for the rare quoted-field lines.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
import pandas as pd

FNV_OFFSET = np.uint64(0xCBF29CE484222325)
FNV_PRIME = np.uint64(0x100000001B3)
_U64_MASK = 0xFFFFFFFFFFFFFFFF


# ---------------------------------------------------------------------------
# scalar kernels (the canonical single-value semantics; used by refimpl + the
# slow path of the vectorized kernels)
# ---------------------------------------------------------------------------

def split_csv(line: str) -> List[str]:
    """Quote-aware CSV split with the reference tokenizer's exact semantics.

    - ``""`` inside a quoted field -> literal quote
    - characters between a closing quote and the next comma are discarded
    - trailing comma -> trailing empty field
    - empty line -> zero fields
    (tokenizer.rs:67-127; canonical str semantics per SURVEY.md §8.1)
    """
    n = len(line)
    i = 0
    out: List[str] = []
    while i <= n:
        if i >= n:
            if n > 0 and line[n - 1] == ",":
                out.append("")
            break
        if line[i] == '"':
            i += 1
            buf: List[str] = []
            while i < n:
                c = line[i]
                if c == '"':
                    if i + 1 < n and line[i + 1] == '"':
                        buf.append('"')
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    buf.append(c)
                    i += 1
            # discard anything between closing quote and next comma
            while i < n and line[i] != ",":
                i += 1
            field = "".join(buf)
        else:
            j = line.find(",", i)
            if j == -1:
                field = line[i:]
                i = n
            else:
                field = line[i:j]
                i = j
        if i < n and line[i] == ",":
            i += 1
        out.append(field)
    return out


def extract_field(line: str, idx: int) -> Optional[str]:
    """0-based positional field extract, with the reference's edge semantics:
    ``idx == n_fields`` -> ``""`` unless the line ends with a comma (then
    ``None``); ``idx > n_fields`` -> ``None``. (tokenizer.rs:4-65,164-176)
    """
    fields = split_csv(line)
    if idx < len(fields):
        return fields[idx]
    if idx == len(fields):
        return None if line.endswith(",") else ""
    return None


def fnv1a_hash64(data) -> int:
    """FNV-1a 64-bit over bytes (str encoded utf-8, errors='ignore' like the
    reference's Python fallback; fixture data is valid utf-8 so this matches
    the Rust byte path). Returns an unsigned Python int in [0, 2^64).
    """
    if isinstance(data, str):
        data = data.encode("utf-8", errors="ignore")
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & _U64_MASK
    return h


def sanitize_identifier(name: str) -> str:
    """Schema field-name normalization (schema.rs:39-56)."""
    s = name.strip().lower().replace(" ", "_").replace("/", "_").replace("-", "_")
    out = "".join(
        ch if (ch.isascii() and (ch.isalnum() or ch == "_")) else "_" for ch in s
    )
    if not out or not (out[0] == "_" or (out[0].isascii() and out[0].isalpha())):
        out = "_" + out
    return out


def tokenize_value(prefix: str, field_salt: str, default_salt: str, value: str) -> str:
    """Deterministic anonymization token (anonymizer/table.rs:28-44).

    token = prefix + hex16(fnv1a(field_salt || default_salt || value)).
    The field-rule salt is *prepended to* — never replaces — the defaults
    salt; when no field rule exists the defaults salt appears twice
    (table.rs:31-36 chains salt_override + self.salt + value).
    """
    h = fnv1a_hash64(
        field_salt.encode("utf-8", errors="ignore")
        + default_salt.encode("utf-8", errors="ignore")
        + value.encode("utf-8", errors="ignore")
    )
    return f"{prefix}{h:016x}"


def strip_syslog_prefix(line: str) -> str:
    """Extract the CSV portion of a syslog line: keep from the first ``' 1,'``
    (starting at the ``'1,'``); else the stripped line.
    (examples/pan_dynamic_parser.py:828-831)
    """
    idx = line.find(" 1,")
    return line[idx + 1 :].strip() if idx != -1 else line.strip()


# ---------------------------------------------------------------------------
# vectorized kernels (pandas/numpy across rows)
# ---------------------------------------------------------------------------

def fnv1a_seed(prefix: bytes) -> int:
    """FNV state after hashing ``prefix`` — because FNV-1a is a sequential
    fold, hashing ``prefix + value`` equals continuing from this seed over
    ``value``. Lets salted tokenization avoid per-row byte concatenation."""
    return fnv1a_hash64(prefix)


def fnv1a_series(values: pd.Series, prefix: bytes = b"", seed: Optional[int] = None
                 ) -> np.ndarray:
    """Vectorized FNV-1a-64 over a Series of strings.

    Strategy: encode each string to utf-8, concatenate into one flat uint8
    buffer, gather into a padded byte matrix stored column-major
    (max_len, n_rows) so each FNV step reads a contiguous row-vector, then
    fold FNV over *columns* — max_len iterations of whole-vector uint64 ops.
    Rows are processed in length-sorted buckets so one pathological long row
    doesn't inflate the matrix for everyone, and columns shorter than the
    bucket minimum skip masking entirely.

    Returns an unsigned uint64 array aligned with ``values``.
    """
    if seed is None:
        seed = fnv1a_seed(prefix)
    n = len(values)
    out = np.full(n, seed, dtype=np.uint64)
    if n == 0:
        return out
    try:
        encoded = values.fillna("").str.encode("utf-8", errors="ignore")
    except TypeError:  # older pandas without errors kwarg
        encoded = values.fillna("").map(lambda s: s.encode("utf-8", errors="ignore"))
    lengths = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=n)
    order = np.argsort(lengths, kind="stable")
    sorted_lengths = lengths[order]
    # bucket boundaries: split where padded size would waste >2x
    bucket_starts = [0]
    while bucket_starts[-1] < n:
        lo = bucket_starts[-1]
        threshold = 2 * max(int(sorted_lengths[lo]), 64)
        hi = int(np.searchsorted(sorted_lengths, threshold, side="right"))
        bucket_starts.append(max(hi, lo + 1))
    enc_list = encoded.to_numpy(dtype=object)
    seed_u64 = np.uint64(seed)
    row_block = 8192  # transpose in cache-friendly row blocks
    for bi in range(len(bucket_starts) - 1):
        lo, hi = bucket_starts[bi], bucket_starts[bi + 1]
        idxs = order[lo:hi]
        blens = lengths[idxs]
        maxlen = int(blens.max()) if len(blens) else 0
        if maxlen == 0:
            continue
        minlen = int(blens.min())
        # NUL-pad rows to maxlen so the flat buffer reshapes to a matrix.
        # Padded bytes MUST stay masked out in the tail loop (xor-0 still
        # multiplies).
        joined = b"".join(enc_list[i].ljust(maxlen, b"\x00") for i in idxs)
        mat = np.frombuffer(joined, dtype=np.uint8).reshape(len(idxs), maxlen)
        h = np.full(len(idxs), seed_u64, dtype=np.uint64)
        for r0 in range(0, len(idxs), row_block):
            r1 = min(r0 + row_block, len(idxs))
            blk = np.ascontiguousarray(mat[r0:r1].T)   # (maxlen, block_rows)
            hb = h[r0:r1]
            for c in range(minlen):                    # no mask needed
                hb ^= blk[c]
                hb *= FNV_PRIME
            if minlen < maxlen:
                bl = blens[r0:r1]
                for c in range(minlen, maxlen):        # masked tail
                    v = bl > c
                    nh = (hb ^ blk[c]) * FNV_PRIME
                    np.copyto(hb, nh, where=v)
        out[idxs] = h
    return out


def fnv1a_series_signed(values: pd.Series) -> pd.Series:
    """FNV-1a-64 as two's-complement int64 (Spark LongType storage, SURVEY §8.4)."""
    return pd.Series(fnv1a_series(values).view(np.int64))


def split_csv_series(lines: pd.Series) -> pd.Series:
    """Vectorized quote-aware CSV split: Series[str] -> Series[list[str]].

    Lines without a double-quote character (the overwhelming majority) take a
    pure-vectorized ``str.split(',')`` fast path, which is exactly equivalent
    to the scanner for quote-free input; empty lines are corrected to zero
    fields. Quoted lines fall back to the exact scalar scanner.
    """
    filled = lines.fillna("")
    out = filled.str.split(",")
    has_quote = filled.str.contains('"', regex=False)
    if has_quote.any():
        out = out.copy()
        quoted_idx = filled.index[has_quote]
        out.loc[quoted_idx] = filled.loc[quoted_idx].map(split_csv)
    empty = ~has_quote & (filled.str.len() == 0)
    if empty.any():
        out = out if has_quote.any() else out.copy()
        out.loc[filled.index[empty]] = pd.Series(
            [[] for _ in range(int(empty.sum()))], index=filled.index[empty]
        )
    return out


def strip_syslog_prefix_series(lines: pd.Series) -> pd.Series:
    """Vectorized syslog-prefix strip (pan_dynamic_parser.py:828-831)."""
    filled = lines.fillna("")
    idx = filled.str.find(" 1,")
    stripped = filled.str.strip()
    found = idx != -1
    if found.any():
        # line[idx+1:].strip() for the found rows
        sliced = pd.Series(
            [s[i + 1 :].strip() for s, i in zip(filled[found], idx[found])],
            index=filled.index[found],
        )
        stripped = stripped.copy()
        stripped.loc[filled.index[found]] = sliced
    return stripped


def tokenize_series(
    values: pd.Series, prefix: str, field_salt: str, default_salt: str
) -> pd.Series:
    """Vectorized anonymization tokens: prefix + hex16(fnv1a(salts || value)).

    Null values stay null (the reference never anonymizes missing values,
    bindings/python/src/lib.rs:353).
    """
    isnull = values.isna()
    salt_bytes = field_salt.encode("utf-8", errors="ignore") + default_salt.encode(
        "utf-8", errors="ignore"
    )
    hashes = fnv1a_series(values, seed=fnv1a_seed(salt_bytes))
    # object (Python str) concatenation: NumPy fixed-width strings drop
    # trailing NULs, so np.char.add would truncate a prefix like "A\x00"
    hexes = [prefix + h for h in np.char.mod("%016x", hashes).tolist()]
    result = pd.Series(hexes, index=values.index, dtype=object)
    result[isnull] = None
    return result
