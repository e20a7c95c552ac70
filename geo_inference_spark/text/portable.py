"""Dialect-portable SQL expression builders (Spark SQL + DuckDB).

The correctness gate runs every query twice — our Spark plan vs a
DuckDB oracle — and hash-compares values. Hashing/tokenizing must
therefore be BIT-IDENTICAL across engines. The trick used throughout:
``md5()`` returns the same lowercase hex string in both engines, and
lexicographic MIN over fixed-length hex strings is a valid uniform
hash order — so MinHash, LSH band keys, fingerprints and bucket ids
are all built from md5 strings with no numeric conversion at all.

Both engines get the SAME logical expression, rendered per dialect:

  tokens    : whitespace word split
  shingles  : k-gram join over the token array
  minhash_j : min(md5(seed_j || ':' || shingle))
  simhash   : per-bit majority over token md5 hex digits
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"


def tokens(d: str, col: str = "text") -> str:
    if d == SPARK:
        return f"split(trim({col}), ' ')"
    return f"string_split(trim({col}), ' ')"


def _elem(d: str, arr: str, i: str) -> str:
    return f"element_at({arr}, {i})" if d == SPARK else f"list_extract({arr}, {i})"


def _size(d: str, arr: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def _seq(d: str, lo: str, hi: str) -> str:
    # inclusive [lo, hi]; guarded by the caller to be non-empty
    return f"sequence({lo}, {hi})" if d == SPARK else f"range({lo}, ({hi}) + 1)"


def _transform(d: str, arr: str, var: str, body: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {var} -> {body})"


def _amin(d: str, arr: str) -> str:
    return f"array_min({arr})" if d == SPARK else f"list_aggregate({arr}, 'min')"


def concat(d: str, *parts: str) -> str:
    if d == SPARK:
        return "concat(" + ", ".join(parts) + ")"
    return " || ".join(parts)


def shingles(d: str, col: str = "text", k: int = 3) -> str:
    """Array of k-gram strings (space-joined consecutive tokens);
    empty array for docs shorter than k tokens."""
    t = tokens(d, col)
    n = _size(d, t)
    gram = concat(d, *sum(
        ([_elem(d, t, f"i + {j}"), "' '"] for j in range(k - 1)), []
    ), _elem(d, t, f"i + {k - 1}"))
    seq = _seq(d, "1", f"{n} - {k - 1}")
    body = _transform(d, seq, "i", gram)
    empty = "array()" if d == SPARK else "[]"
    return f"(case when {n} >= {k} then {body} else {empty} end)"


def minhash(d: str, j: int, shingle_expr: str, col: str = "text") -> str:
    """j-th MinHash as an 8-char hex string; md5(text) fallback for
    shingle-less docs keeps exact dups collapsing there too.

    Cost trick: instead of one md5 per (hash function, shingle), md5
    is computed once per (seed, shingle) and its 32 hex chars sliced
    into four independent 32-bit minhash streams — seed = j//4, slice
    = j%4 — cutting hash work 4x (the LSH stage dominated bench time
    before this).
    """
    seed, slice_i = divmod(j, 4)
    sub = f"substring(md5({concat(d, repr(f'{seed}:'), 's')}), {8 * slice_i + 1}, 8)"
    hashed = _transform(d, shingle_expr, "s", sub)
    fallback = (
        f"substring(md5({concat(d, repr(f'{seed}:'), col)}), {8 * slice_i + 1}, 8)"
    )
    return f"coalesce({_amin(d, hashed)}, {fallback})"


def simhash_bits(d: str, nbits: int = 16, col: str = "text") -> str:
    """SimHash over whitespace tokens using md5 hex digits as the
    per-token bit source; returns a BIGINT in [0, 2^nbits).

    bit b of token t = bit (b%4) of hex digit b//4 of md5(t);
    simhash bit b = 1 iff sum over tokens of (2*bit - 1) > 0.
    """
    t = tokens(d, col)
    terms = []
    for b in range(nbits):
        digit_pos = b // 4 + 1
        bit_in_digit = b % 4
        if d == SPARK:
            digit = (
                f"(instr('0123456789abcdef', substring(md5(x), {digit_pos}, 1)) - 1)"
            )
        else:
            digit = (
                f"(strpos('0123456789abcdef', substring(md5(x), {digit_pos}, 1)) - 1)"
            )
        bit = f"(({digit} >> {bit_in_digit}) & 1)"
        contrib = _transform(d, t, "x", f"2 * {bit} - 1")
        if d == SPARK:
            tot = f"aggregate({contrib}, 0, (acc, v) -> acc + v)"
        else:
            tot = f"list_aggregate({contrib}, 'sum')"
        terms.append(f"(case when {tot} > 0 then {1 << b} else 0 end)")
    return "(" + " + ".join(terms) + ")"


def ngram_jaccard(d: str, sh1: str, sh2: str) -> str:
    """Jaccard similarity of two shingle arrays (as distinct sets)."""
    if d == SPARK:
        inter = f"size(array_intersect({sh1}, {sh2}))"
        uni = f"size(array_union({sh1}, {sh2}))"
    else:
        inter = f"len(list_intersect({sh1}, {sh2}))"
        uni = (
            f"len(list_distinct(list_concat({sh1}, {sh2})))"
        )
    return f"(case when {uni} = 0 then 0.0 else cast({inter} as double) / {uni} end)"
