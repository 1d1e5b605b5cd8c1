"""Build a run's inputs and expected results before anything is timed.

``ensure(workload, seed)`` writes, under
``_cache/<workload>/<digest>/seed_<n>``:

* ``dedup_scale``: ``documents.parquet`` and ``embeddings.parquet``
  (see ``gen.dedup_corpus``) and ``expected.json``: the DuckDB digest
  of each head's registered oracle SQL over those files, the digest of
  ``reference.minhash_report`` for ``q_dedup_minhash`` (its oracle SQL
  does not finish in DuckDB at this size), and the planted pairs;
* ``corpus_publish``: ``documents.parquet``, ``delta.json`` and
  ``expected.json`` (doc_id -> text after the whole cycle).

``<digest>`` hashes the benchmark's generator and reference files, so
a changed generator never reuses stale inputs.  Expected results also
depend on the program's registered oracle SQL: after changing that,
delete ``_cache`` or rebuild with the command below.

A finished directory is reused; it is written to a temporary name
and renamed, so an interrupted build leaves nothing half made.

Run directly to rebuild every cached input and expected result of a
seed range:  ``python3 v6bench/prepare.py <first_seed> <last_seed>``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import reference

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "_cache")

DEDUP_HEADS = ["q_dedup_minhash", "q_dedup_simhash", "q_similarity_ann", "q_text_quality"]


def _fingerprint() -> str:
    h = hashlib.sha256()
    for name in ("gen.py", "reference.py", "checks.py", "prepare.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


FINGERPRINT = _fingerprint()


def cache_dir(workload: str, seed: int) -> str:
    return os.path.join(CACHE, workload, FINGERPRINT, f"seed_{seed}")


def _oracle_digest(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return reference.digest(cols, cur.fetchall())


def build_dedup(out: str, seed: int) -> None:
    import duckdb

    from v6spark.plans import REGISTRY

    docs, emb, planted = gen.dedup_corpus(seed)
    pq.write_table(pa.table(docs), f"{out}/documents.parquet")
    flat = pa.array(emb["embedding"].ravel())
    offsets = pa.array(range(0, len(flat) + 1, gen.DIM), type=pa.int32())
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(emb["vec_id"], type=pa.int64()),
                "embedding": pa.ListArray.from_arrays(offsets, flat),
                "label": pa.array(emb["label"]),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet')")
    expected = {
        name: _oracle_digest(con, REGISTRY[name].oracle)
        for name in DEDUP_HEADS
        if name != "q_dedup_minhash"
    }
    con.close()
    rows = reference.minhash_report(list(zip(docs["doc_id"], docs["text"])))
    expected["q_dedup_minhash"] = reference.digest(
        ["id_a", "id_b", "est_jaccard", "jaccard", "edit_dist"], rows
    )
    meta = {"heads": expected, "planted": planted, "n_docs": len(docs["doc_id"]), "n_vecs": len(emb["vec_id"])}
    with open(f"{out}/expected.json", "w") as f:
        json.dump(meta, f)


def build_publish(out: str, seed: int) -> None:
    docs, delta = gen.publish_corpus(seed)
    pq.write_table(pa.Table.from_pylist(docs), f"{out}/documents.parquet")
    with open(f"{out}/delta.json", "w") as f:
        json.dump(delta, f)
    expected = checks.expected_publish(docs, delta, gen.retracted)
    with open(f"{out}/expected.json", "w") as f:
        json.dump({str(k): v for k, v in expected.items()}, f)


BUILDERS = {"dedup_scale": build_dedup, "corpus_publish": build_publish}


def ensure(workload: str, seed: int) -> str:
    out = cache_dir(workload, seed)
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    BUILDERS[workload](tmp, seed)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    for s in range(lo, hi + 1):
        for w in BUILDERS:
            shutil.rmtree(cache_dir(w, s), ignore_errors=True)
            print(ensure(w, s))
