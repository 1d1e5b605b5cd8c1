"""The benchmark's checks must reject corrupted outputs.

Run with:  python3 -m pytest v6bench/test_checks.py -q
(no Spark session is needed).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402

COLS = ["doc_id", "simhash"]
ROWS = [(1, 11), (2, 22), (3, 33)]


def test_digest_accepts_the_same_rows_in_any_order():
    expected = reference.digest(COLS, ROWS)
    assert checks.check_digest("q", COLS[::-1], [r[::-1] for r in ROWS[::-1]], expected) == []


@pytest.mark.parametrize(
    "rows",
    [ROWS[:-1], [(1, 11), (2, 23), (3, 33)], ROWS + [(4, 44)], [(1, 11), (2, 22), (3, None)]],
    ids=["dropped_row", "altered_value", "extra_row", "null_value"],
)
def test_digest_rejects_corrupted_rows(rows):
    assert checks.check_digest("q", COLS, rows, reference.digest(COLS, ROWS))


def test_digest_rejects_a_renamed_column():
    assert checks.check_digest("q", ["doc_id", "sim"], ROWS, reference.digest(COLS, ROWS))


def _minhash_case():
    rng = random.Random(7)
    vocab = gen.VOCAB
    base = " ".join(rng.choice(vocab) for _ in range(60))
    texts = {
        1: base,
        2: gen.near_copy(base, 0),
        3: " ".join(rng.choice(vocab) for _ in range(60)),
    }
    planted = [{"a": 1, "b": 2, "jaccard": reference.jaccard(texts[1], texts[2])}]
    rows = reference.minhash_report(sorted(texts.items()))
    return texts, planted, rows


MH_COLS = ["id_a", "id_b", "est_jaccard", "jaccard", "edit_dist"]


def test_minhash_reference_finds_the_planted_pair_only():
    texts, planted, rows = _minhash_case()
    assert planted[0]["jaccard"] >= checks.MIN_PLANTED_JACCARD
    assert [(r[0], r[1]) for r in rows] == [(1, 2)]
    assert rows[0][4] == len(" dup")
    assert checks.check_minhash_pairs(MH_COLS, rows, texts, planted) == []


def test_minhash_check_rejects_a_missing_planted_pair():
    texts, planted, _rows = _minhash_case()
    assert checks.check_minhash_pairs(MH_COLS, [], texts, planted)


def test_minhash_check_rejects_an_extra_pair_with_invented_scores():
    texts, planted, rows = _minhash_case()
    extra = rows + [(1, 3, 0.5, 0.5, 10)]
    assert checks.check_minhash_pairs(MH_COLS, extra, texts, planted)


@pytest.mark.parametrize("col", [3, 4], ids=["jaccard", "edit_dist"])
def test_minhash_check_rejects_an_altered_score(col):
    texts, planted, rows = _minhash_case()
    bad = [tuple(v + 1 if i == col else v for i, v in enumerate(rows[0]))]
    assert checks.check_minhash_pairs(MH_COLS, bad, texts, planted)


def test_levenshtein_matches_the_textbook_recurrence():
    def slow(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(3)
    for _ in range(200):
        a = "".join(rng.choice("ab c") for _ in range(rng.randint(0, 25)))
        b = "".join(rng.choice("ab c") for _ in range(rng.randint(0, 25)))
        assert reference.levenshtein(a, b) == slow(a, b)


def test_round6_rounds_exact_ties_half_up():
    assert reference.round6(1, 128) == 0.007813  # 0.0078125
    assert reference.round6(1, 3) == 0.333333


def _publish_case():
    docs = [{"doc_id": i, "text": f"text {i % 9}", "lang": "en"} for i in range(30)]
    delta = [
        {"doc_id": 2, "text": "revised 2", "lang": "en", "split": None},
        {"doc_id": 500, "text": "inserted", "lang": "en", "split": "train"},
    ]
    expected = checks.expected_publish(docs, delta, gen.retracted)
    rows = [(d, t, "train") for d, t in sorted(expected.items())]
    return delta, expected, rows


def test_publish_expectation_applies_dedup_upsert_and_retract():
    _delta, expected, _rows = _publish_case()
    assert sorted(expected) == [0, 1, 2, 3, 4, 5, 6, 8, 500]  # 7 is retracted
    assert expected[2] == "revised 2"


def test_publish_check_accepts_the_expected_rows():
    delta, expected, rows = _publish_case()
    assert checks.check_publish(rows, expected, delta, gen.retracted, rows) == []


def test_publish_check_rejects_a_dropped_row():
    delta, expected, rows = _publish_case()
    assert checks.check_publish(rows[1:], expected, delta, gen.retracted, rows[1:])


def test_publish_check_rejects_a_retracted_key_left_in():
    delta, expected, rows = _publish_case()
    bad = rows + [(7, "text 7", "train")]
    problems = checks.check_publish(bad, expected, delta, gen.retracted, bad)
    assert any("retracted" in p for p in problems)


def test_publish_check_rejects_an_upsert_that_kept_the_old_text():
    delta, expected, rows = _publish_case()
    bad = [(d, "text 2" if d == 2 else t, s) for d, t, s in rows]
    problems = checks.check_publish(bad, expected, delta, gen.retracted, bad)
    assert any("upserted" in p for p in problems)


def test_publish_check_rejects_a_readback_that_differs_from_the_files():
    delta, expected, rows = _publish_case()
    files = [(d, t, "valid" if d == 0 else s) for d, t, s in rows]
    problems = checks.check_publish(rows, expected, delta, gen.retracted, files)
    assert any("pyarrow" in p for p in problems)


def test_latest_manifest_skips_a_torn_write(tmp_path):
    commits = tmp_path / "_commits"
    commits.mkdir()
    body = json.dumps({"v": 1, "files": {}}).encode()
    good = body + b"\nsha256:" + hashlib.sha256(body).hexdigest().encode() + b"\n"
    (commits / "manifest-000000000001").write_bytes(good)
    (commits / "manifest-000000000002").write_bytes(b'{"v": 2, "fil')
    assert checks.latest_manifest(str(tmp_path))["v"] == 1


def test_inputs_depend_only_on_the_seed():
    assert gen.publish_corpus(5) == gen.publish_corpus(5)
    assert gen.publish_corpus(5) != gen.publish_corpus(6)
    d1, e1, p1 = gen.dedup_corpus(5)
    d2, e2, p2 = gen.dedup_corpus(5)
    assert d1 == d2 and p1 == p2 and (e1["embedding"] == e2["embedding"]).all()
