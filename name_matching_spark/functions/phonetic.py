"""Phonetic blocking codes: Soundex twin + simplified double-metaphone.

Blocking keys (north-star contract) combine normalized name tokens,
soundex / double-metaphone codes, and MinHash-LSH bands.  Spark's native
``F.soundex`` covers the soundex key JVM-side; this module provides

* :func:`soundex` — a pure-Python twin of the classic (Odell/Russell)
  algorithm as implemented by Spark/Hive, used in tests and driver-side
  tooling;
* :func:`double_metaphone` — a compact implementation of the core
  Metaphone consonant transformations with a small set of alternate
  (secondary-code) rules.  It intentionally omits the long tail of the
  published Double Metaphone rule set: blocking keys only need to be
  *stable* and *recall-preserving* (two spellings of the same name should
  collide), which is measured directly by the blocking-recall test against
  the labeled positive pairs.
* :func:`metaphone_name_codes_udf` — Arrow-batched pandas UDF emitting
  the codes of every token of a name as one array<string>.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

_SOUNDEX_CODES = {
    **dict.fromkeys("BFPV", "1"),
    **dict.fromkeys("CGJKQSXZ", "2"),
    **dict.fromkeys("DT", "3"),
    "L": "4",
    **dict.fromkeys("MN", "5"),
    "R": "6",
}


def soundex(word: str) -> str:
    """Classic 4-char soundex (twin of Spark's ``F.soundex``).
    Non-alpha-initial inputs are returned unchanged, as Spark does."""
    if not word:
        return word
    w = word.upper()
    if not ("A" <= w[0] <= "Z"):
        return word
    out = [w[0]]
    last = _SOUNDEX_CODES.get(w[0], "")
    for ch in w[1:]:
        if not ("A" <= ch <= "Z"):
            continue
        code = _SOUNDEX_CODES.get(ch, "")
        if code and code != last:
            out.append(code)
            if len(out) == 4:
                break
        if ch not in "HW":  # H and W are transparent for adjacency
            last = code
    return "".join(out).ljust(4, "0")


_VOWELS = set("AEIOU")


def double_metaphone(word: str, max_len: int = 6) -> tuple[str, str]:
    """(primary, secondary) simplified metaphone codes for one token."""
    w = "".join(ch for ch in word.upper() if "A" <= ch <= "Z")
    if not w:
        return "", ""
    # Initial-cluster exceptions.
    for pre, rep in (("KN", "N"), ("GN", "N"), ("PN", "N"), ("WR", "R"), ("PS", "S"), ("AE", "E"), ("WH", "W")):
        if w.startswith(pre):
            w = rep + w[len(pre):]
            break
    if w.startswith("X"):
        w = "S" + w[1:]

    prim: list[str] = []
    sec: list[str] = []

    def emit(p: str, s: str | None = None):
        prim.append(p)
        sec.append(p if s is None else s)

    i, n = 0, len(w)
    while i < n and len(prim) < max_len:
        ch = w[i]
        nxt = w[i + 1] if i + 1 < n else ""
        nxt2 = w[i + 2] if i + 2 < n else ""
        if ch in _VOWELS:
            if i == 0:
                emit("A")  # all initial vowels fold to A
            i += 1
            continue
        if ch == nxt and ch != "C":
            i += 1  # collapse doubles
            continue
        if ch == "B":
            if not (i == n - 1 and i > 0 and w[i - 1] == "M"):
                emit("P")
        elif ch == "C":
            if nxt == "H":
                emit("X", "K")  # CH: "ch" primary, hard-K secondary (e.g. CHRIS)
                i += 1
            elif nxt in "IEY":
                emit("S")
            else:
                emit("K")
        elif ch == "D":
            if nxt == "G" and nxt2 in "EIY":
                emit("J")
                i += 2
            else:
                emit("T")
        elif ch == "F":
            emit("F")
        elif ch == "G":
            if nxt == "H":
                if i + 2 >= n or w[i + 2] in _VOWELS:
                    emit("K")
                i += 1  # else silent (LIGHT, HUGH)
            elif nxt in "IEY":
                emit("J", "K")
            else:
                emit("K")
        elif ch == "H":
            if (i == 0 or w[i - 1] in _VOWELS) and nxt in _VOWELS:
                emit("H")
        elif ch == "J":
            emit("J", "A")
        elif ch == "K":
            if i == 0 or w[i - 1] != "C":
                emit("K")
        elif ch == "L":
            emit("L")
        elif ch == "M":
            emit("M")
        elif ch == "N":
            emit("N")
        elif ch == "P":
            if nxt == "H":
                emit("F")
                i += 1
            else:
                emit("P")
        elif ch == "Q":
            emit("K")
        elif ch == "R":
            emit("R")
        elif ch == "S":
            if nxt == "H":
                emit("X")
                i += 1
            elif nxt == "C" and nxt2 == "H":
                emit("X", "SK")
                i += 2
            elif nxt == "I" and nxt2 in ("O", "A"):
                emit("X", "S")
            else:
                emit("S")
        elif ch == "T":
            if nxt == "H":
                emit("0")  # theta
                i += 1
            elif nxt == "I" and nxt2 in ("O", "A"):
                emit("X", "T")
            else:
                emit("T")
        elif ch == "V":
            emit("F")
        elif ch == "W":
            if nxt in _VOWELS:
                emit("W", "F")
        elif ch == "X":
            emit("KS")
        elif ch == "Y":
            if nxt in _VOWELS:
                emit("J")
        elif ch == "Z":
            emit("S", "TS")
        i += 1
    p = "".join(prim)[:max_len]
    s = "".join(sec)[:max_len]
    return p, s


def metaphone_name_codes_udf(min_token_len: int = 2):
    """pandas UDF: whole normalized NAME -> flat array of all non-empty
    metaphone codes of its >= ``min_token_len``-char tokens.  One Python
    evaluation per name instead of one per token row — the per-name shape
    the single-projection blocking-key plan needs (operators/blocking.py).
    """

    def _batch(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return []
            out = []
            for t in v.split(" "):
                if len(t) >= min_token_len:
                    p, sec = double_metaphone(t)
                    if p:
                        out.append(p)
                    if sec:
                        out.append(sec)
            return out

        return s.map(one)

    return F.pandas_udf(_batch, ArrayType(StringType()))
