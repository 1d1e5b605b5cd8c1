"""Output checks.  Each returns a list of problems (empty = correct).

No check takes its expected value from the program under test: the
expected digests come from DuckDB running the registered oracle SQL,
the MinHash rows from ``reference.minhash_report``, and the publish
expectations from the generated documents and delta.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow.parquet as pq

import reference

MIN_PLANTED_JACCARD = 0.9


def check_digest(name: str, columns: list[str], rows, expected: dict) -> list[str]:
    got = reference.digest(columns, rows)
    if got["columns"] != expected["columns"]:
        return [f"{name}: columns {got['columns']} != {expected['columns']}"]
    if got["rows"] != expected["rows"]:
        return [f"{name}: {got['rows']} rows, expected {expected['rows']}"]
    if got["hash"] != expected["hash"]:
        return [f"{name}: value hash differs from the oracle's"]
    return []


def check_minhash_pairs(
    columns: list[str], rows, texts: dict[int, str], planted: list[dict]
) -> list[str]:
    """Every planted pair with Jaccard >= 0.9 is reported, and every
    reported pair's ``jaccard`` and ``edit_dist`` equal the values
    recomputed from the two texts."""
    col = {c: i for i, c in enumerate(columns)}
    problems = []
    reported = set()
    for r in rows:
        a, b = r[col["id_a"]], r[col["id_b"]]
        reported.add((a, b))
        if a not in texts or b not in texts:
            problems.append(f"pair ({a}, {b}) names an unknown document")
            continue
        j = reference.jaccard(texts[a], texts[b])
        if r[col["jaccard"]] != j:
            problems.append(f"pair ({a}, {b}): jaccard {r[col['jaccard']]} != {j}")
        e = reference.levenshtein(texts[a], texts[b])
        if r[col["edit_dist"]] != e:
            problems.append(f"pair ({a}, {b}): edit_dist {r[col['edit_dist']]} != {e}")
    for p in planted:
        if p["jaccard"] >= MIN_PLANTED_JACCARD and (p["a"], p["b"]) not in reported:
            problems.append(f"planted pair ({p['a']}, {p['b']}) J={p['jaccard']} missing")
    return problems


def latest_manifest(root: str) -> dict:
    """The highest-numbered complete manifest under ``root/_commits``."""
    for path in sorted(glob.glob(os.path.join(root, "_commits", "manifest-*")), reverse=True):
        with open(path, "rb") as f:
            raw = f.read().decode()
        body, _, footer = raw.rstrip("\n").rpartition("\n")
        if footer == "sha256:" + hashlib.sha256(body.encode()).hexdigest():
            return json.loads(body)
    raise ValueError(f"no complete manifest under {root}")


def manifest_rows(root: str) -> list[tuple]:
    """(doc_id, text, split) of every row in the files the committed
    manifest lists, read with pyarrow."""
    doc = latest_manifest(root)
    if doc.get("dv"):
        raise ValueError("manifest carries deletion vectors; not expected here")
    out = []
    for split, files in doc["files"].items():
        for rel in files:
            t = pq.read_table(os.path.join(root, rel), columns=["doc_id", "text"])
            out.extend((d, x, split) for d, x in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    return out


def expected_publish(docs: list[dict], delta: list[dict], retracted) -> dict[int, str]:
    """doc_id -> text after prepare (exact dedup keeps each text's
    lowest id), publish, upsert and retract."""
    first: dict[str, int] = {}
    for d in docs:
        first.setdefault(d["text"], d["doc_id"])
    out = {i: t for t, i in first.items()}
    for u in delta:
        out[u["doc_id"]] = u["text"]
    return {i: t for i, t in out.items() if not retracted(i)}


def check_publish(
    readback: list[tuple], expected: dict[int, str], delta: list[dict], retracted, files_rows: list[tuple]
) -> list[str]:
    """``readback`` and ``files_rows`` are (doc_id, text, split) rows
    from Spark and from pyarrow respectively."""
    problems = []
    got = {}
    for d, t, _s in readback:
        if d in got:
            problems.append(f"doc {d} read back twice")
        got[d] = t
    for d in got:
        if retracted(d):
            problems.append(f"retracted doc {d} still present")
    for u in delta:
        d = u["doc_id"]
        if not retracted(d) and got.get(d) != u["text"]:
            problems.append(f"upserted doc {d} does not read back its new text")
    if len(readback) != len(expected):
        problems.append(f"{len(readback)} rows read back, expected {len(expected)}")
    missing = [d for d in expected if d not in got]
    if missing:
        problems.append(f"{len(missing)} expected docs missing, e.g. {missing[:3]}")
    changed = [d for d, t in got.items() if d in expected and expected[d] != t]
    if changed:
        problems.append(f"{len(changed)} docs with wrong text, e.g. {changed[:3]}")
    if reference.digest(["doc_id", "text", "split"], readback) != reference.digest(
        ["doc_id", "text", "split"], files_rows
    ):
        problems.append("Spark read-back differs from a pyarrow read of the manifest's files")
    return problems
