"""Reference computations made apart from the program under test.

* :func:`canonical` / :func:`digest`: the order-insensitive value hash
  both a Spark result and a DuckDB oracle result are reduced to.
* :func:`minhash_report`: the near-duplicate report of
  ``q_dedup_minhash`` restated from the documented algorithm (word
  3-shingles, 60-bit md5 prefix hashes, 64 seeded affine permutations
  mod 2^31-1, 16 bands of 4 rows, exact Jaccard and Levenshtein on
  every candidate), in numpy and plain Python.

Nothing here imports the program under test.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

M31 = (1 << 31) - 1


# ---- canonical result form -------------------------------------------------


def norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, each row's values normalised and
    reordered to match, rows sorted: an order-insensitive multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(norm_value(row[i]) for i in order) for row in rows)
    return [columns[i] for i in order], out


def digest(columns: list[str], rows) -> dict:
    cols, canon = canonical(columns, rows)
    h = hashlib.sha256()
    for r in canon:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"columns": cols, "rows": len(canon), "hash": h.hexdigest()}


# ---- MinHash / LSH / verify reference --------------------------------------


def perm_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """(a, b) of each permutation: splitmix64 from ``seed``, each value
    mod 2^31-1, ``a`` forced odd."""
    mask = (1 << 64) - 1
    state = seed & mask
    out = []
    for _ in range(n):
        ab = []
        for _ in range(2):
            state = (state + 0x9E3779B97F4A7C15) & mask
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
            ab.append((z ^ (z >> 31)) % M31)
        out.append((ab[0] | 1, ab[1]))
    return out


def shingles(text: str, k: int = 3) -> list[str]:
    """Word k-shingles of the lower-cased, whitespace-split text; a
    document shorter than ``k`` words is one shingle."""
    toks = [t for t in text.lower().split() if t]
    if len(toks) < k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def signature(text: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    hv = np.array([hash60(s) % M31 for s in shingles(text)], dtype=np.int64)
    return ((hv[:, None] * a[None, :] + b[None, :]) % M31).min(axis=0)


def jaccard(ta: str, tb: str) -> float:
    sa, sb = set(shingles(ta)), set(shingles(tb))
    inter = len(sa & sb)
    return round6(inter, len(sa) + len(sb) - inter)


def round6(num: int, den: int) -> float:
    """num/den rounded half-up at six decimals, computed exactly."""
    q = (Decimal(num) / Decimal(den)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    return float(q)


def levenshtein(s: str, t: str) -> int:
    """Edit distance by Myers' bit-parallel algorithm (one machine-word
    step per character of ``t``, over a bit vector as long as ``s``)."""
    if not s:
        return len(t)
    if not t:
        return len(s)
    m = len(s)
    full = (1 << m) - 1
    top = 1 << (m - 1)
    peq: dict[str, int] = {}
    for i, ch in enumerate(s):
        peq[ch] = peq.get(ch, 0) | (1 << i)
    pv, mv, score = full, 0, m
    for ch in t:
        eq = peq.get(ch, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | (~(xh | pv) & full)
        mh = pv & xh
        if ph & top:
            score += 1
        elif mh & top:
            score -= 1
        ph = ((ph << 1) | 1) & full
        mh = (mh << 1) & full
        pv = mh | (~(xv | ph) & full)
        mv = ph & xv
    return score


def minhash_report(
    docs: list[tuple[int, str]], n_hashes: int = 64, bands: int = 16
) -> list[tuple]:
    """Rows (id_a, id_b, est_jaccard, jaccard, edit_dist) for every
    pair of documents whose signatures agree on a whole band."""
    params = perm_params(n_hashes)
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)
    ids = [d for d, _ in docs]
    text = dict(docs)
    sigs = {d: signature(t, a, b) for d, t in docs}
    rpb = n_hashes // bands
    cands: set[tuple[int, int]] = set()
    for band in range(bands):
        buckets: dict[tuple, list[int]] = {}
        for d in ids:
            key = tuple(sigs[d][band * rpb : (band + 1) * rpb].tolist())
            buckets.setdefault(key, []).append(d)
        for members in buckets.values():
            members.sort()
            for i, x in enumerate(members):
                for y in members[i + 1 :]:
                    cands.add((x, y))
    rows = []
    for x, y in sorted(cands):
        agree = int((sigs[x] == sigs[y]).sum())
        rows.append(
            (
                x,
                y,
                round6(agree, n_hashes),
                jaccard(text[x], text[y]),
                levenshtein(text[x], text[y]),
            )
        )
    return rows
