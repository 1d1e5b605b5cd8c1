"""M4 tier — north-star LLM-data-pipeline queries (SURVEY.md §2.2/§2.3).

Exact and near dedup (MinHash-LSH, SimHash), token statistics,
similarity search (brute-force + LSH-bucketed ANN), language-ID,
quality scoring, and the batch analogs of the streaming event
windows.  Every query here is oracle-backed: the near-dup/ANN family
uses PORTABLE md5-based hashing and plan-time literal hyperplanes so
a DuckDB oracle reproduces the exact values (the bit-identical Arrow
MinHash kernel remains as the library fast path, unit-tested).

r12: trailing presentation ORDER BYs removed — see m1_core docstring.
q_text_tokens' sort feeds its LIMIT 25 (semantic) and stays, as does
the top-k sort inside cosine_pairs_bruteforce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from v6spark.functions.determinism import o_dsum, s_dsum
from v6spark.operators.dedup import (
    _tokens_sql,
    near_dup_report,
    simhash_signature_portable,
)
from v6spark.operators.similarity import ann_lsh_pairs
from v6spark.operators.text import LANG_PROFILES
from v6spark.operators.transforms import spread_small_input
from v6spark.plans.registry import register
from v6spark.sources.tables import ensure_view, load_table

TIER = "m4_northstar"


@register(
    "q_dedup_exact",
    TIER,
    """
    SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS dedup_key,
           min(doc_id) AS keeper_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    ORDER BY dedup_key
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content key (north star).

    Key = first 5 space-tokens (full texts are all unique in the
    corpus, so whole-text dedup would be degenerate — SURVEY.md §2.3).
    One hash-shuffle on the key; at scale the key would be sha2 of the
    normalized prefix so the shuffle carries digests.
    """
    vd = ensure_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        SELECT concat_ws(' ', slice(split(text, ' '), 1, 5)) AS dedup_key,
               min(doc_id) AS keeper_id,
               COUNT(1) AS dup_count
        FROM {vd} GROUP BY 1
        """)


@register(
    "q_text_tokens",
    TIER,
    """
    SELECT token, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token
      FROM documents WHERE lang = 'en')
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 25
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency top-25 over English docs (north star).

    split -> explode -> hash-agg; partial aggregation combines counts
    map-side so the shuffle moves (token, partial n), not raw tokens.
    """
    vd = ensure_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        SELECT token, COUNT(1) AS n
        FROM (SELECT explode(split(text, ' ')) AS token
              FROM {vd} WHERE lang = 'en')
        WHERE token != ''
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 25
        """)


@register(
    "q_similarity_cosine",
    TIER,
    """
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS ea, b.embedding AS eb
      FROM base a JOIN base b ON a.vec_id < b.vec_id
    ), sums AS (
      SELECT id_a, id_b,
             sum(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
             sum(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
             sum(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
      FROM pairs, range(1, 65) t(i)
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
    FROM sums
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 15
    """,
)
def q_similarity_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force pairwise cosine top-15 (north star baseline).

    Exact-cosine correctness baseline on a bounded subset; the scale
    path is ``operators.similarity.ann_lsh_pairs`` (LSH-bucketed).
    Ranking uses the ROUNDED similarity with id tie-breaks so the
    top-k selection is stable across engines.  The judged instance is
    ``cosine_pairs_bruteforce``'s norm-precompute + pair-dot shape as
    one SQL string (same arr_dot/arr_norm_sq twins); the operator
    stays the library API.
    """
    from v6spark.functions.arrays import arr_dot_sql, arr_norm_sq_sql

    vemb = ensure_view(spark, sf_dir, "embeddings")
    cos = ("CASE WHEN a._n2 > 0 AND b._n2 > 0 "
           f"THEN {arr_dot_sql('a._v', 'b._v')}"
           " / (SQRT(a._n2) * SQRT(b._n2)) END")
    return spark.sql(f"""
        WITH base AS (
          SELECT vec_id AS _id, embedding AS _v,
                 {arr_norm_sq_sql('embedding')} AS _n2
          FROM {vemb} WHERE vec_id < 40)
        SELECT a._id AS id_a, b._id AS id_b,
               round({cos}, 6) AS cosine
        FROM base a JOIN base b ON a._id < b._id
        ORDER BY cosine DESC, id_a, id_b
        LIMIT 15
        """)


@register(
    "q_event_tumbling",
    TIER,
    f"""
    SELECT 'tumbling' AS win_kind,
           CAST((epoch_us(ts) // 3600000000) * 3600000000 AS BIGINT) AS win_start_us,
           count(*) AS n,
           {o_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    UNION ALL
    SELECT 'sliding' AS win_kind,
           CAST((epoch_us(ts) // 900000000 - i) * 900000000 AS BIGINT) AS win_start_us,
           count(*) AS n,
           {o_dsum('value')} AS sum_value
    FROM events, range(0, 4) t(i)
    GROUP BY 1, 2
    ORDER BY win_kind, win_start_us
    """,
)
def q_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1 h) and sliding (1 h window, 15 min slide) event-time
    aggregates — batch analogs, tagged branches.

    Buckets are exact integer arithmetic on epoch microseconds
    (oracle-aligned: DuckDB truncates ns parquet timestamps to µs at
    scan) — timezone- and float-free.  Each event lands in
    window/slide = 4 overlapping sliding buckets, generated by an
    inline sequence explode (no join).  The Structured Streaming twins
    (window/watermark) are v6spark.streaming.events.

    r12: ONE spark.sql build (s_dsum twin; identical arithmetic and
    plan, ~0.12 s of Column/py4j build cost removed).
    """
    ve = ensure_view(spark, sf_dir, "events")
    hour_us, slide_us = 3_600_000_000, 900_000_000
    return spark.sql(f"""
        SELECT 'tumbling' AS win_kind, win_start_us,
               COUNT(1) AS n, {s_dsum('value')} AS sum_value
        FROM (SELECT (ts_us DIV {hour_us}) * {hour_us} AS win_start_us, value
              FROM {ve})
        GROUP BY win_start_us
        UNION ALL
        SELECT 'sliding' AS win_kind, win_start_us,
               COUNT(1) AS n, {s_dsum('value')} AS sum_value
        FROM (SELECT (slot - i) * {slide_us} AS win_start_us, value
              FROM (SELECT value, explode(sequence(0, 3)) AS i,
                           ts_us DIV {slide_us} AS slot
                    FROM {ve}))
        GROUP BY win_start_us
        """)


@register(
    "q_event_session",
    TIER,
    """
    WITH flags AS (
      SELECT user_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS s
      FROM events)
    SELECT user_id, CAST(sum(s) AS BIGINT) AS n_sessions
    FROM flags GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_event_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute gap rule (batch gaps-and-islands).

    Gap arithmetic runs on exact int64 microseconds (oracle-aligned —
    DuckDB's scanned timestamps are µs); the oracle states the
    identical rule with INTERVAL arithmetic.  The judged instance is
    ``session_counts``'s window+agg stated as one SQL string (same
    gap rule, same tie-break ordering); the operator stays the
    library API.
    """
    ve = ensure_view(spark, sf_dir, "events")
    gap_us = 30 * 60_000_000
    return spark.sql(f"""
        SELECT user_id, CAST(sum(_start) AS BIGINT) AS n_sessions
        FROM (SELECT user_id,
                     CASE WHEN lag(ts_us) OVER w IS NULL
                               OR (ts_us - lag(ts_us) OVER w) > {gap_us}
                          THEN 1 ELSE 0 END AS _start
              FROM {ve}
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        GROUP BY user_id
        """)


@register(
    "q_text_quality",
    TIER,
    """
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents),
    toks AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_filter(t,
                 x -> x IN ('the','and','of','to','in','is','that','for')))
               AS stop_hits,
             list_sum(list_transform(t, w -> CAST(length(w) AS DOUBLE)))
               AS sum_wlen,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             greatest(length(text), 1) AS n_chars
      FROM base)
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(n_punct / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
           round(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) AS stopword_ratio,
           round(least(n_tokens / 100.0, 1.0) * 0.5
                 + (stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.5, 6)
             AS quality_score,
           round(coalesce(sum_wlen, 0.0)
                 / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) AS mean_word_len,
           CAST(CASE WHEN n_tokens BETWEEN 5 AND 5000
                      AND coalesce(sum_wlen, 0.0)
                          / CAST(greatest(n_tokens, 1) AS DOUBLE)
                          BETWEEN 2.0 AND 12.0
                     THEN 1 ELSE 0 END AS INT) AS passes_gates
    FROM toks
    ORDER BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (north star: quality scoring)
    + Gopher-style gates (r5 fold: word-count 5-5000 and
    mean-word-length 2-12 rules from operators/text.py's quality
    tier, judged per document).

    Length / punctuation-ratio / stopword-ratio heuristics — the cheap
    pre-model quality pass of a pretraining pipeline, all Catalyst
    expressions (the operators/text.py::quality_features arithmetic);
    the added mean-word-length folds double word lengths in token
    order on both engines.

    r12: ONE spark.sql build stating the identical expressions
    (tokenize once, filter/aggregate HOFs, double literals D-suffixed
    so every op stays the same IEEE double sequence; passes_gates is
    a boolean→int CAST exactly like the Column form so NULL text
    stays NULL).  ~0.15 s of Column/py4j build cost removed;
    quality_features stays the library operator for general frames.
    """
    vd = ensure_view(spark, sf_dir, "documents", spread=True)
    stops = ",".join(f"'{w}'" for w in LANG_PROFILES["en"])
    return spark.sql(f"""
        WITH b AS (
          SELECT doc_id, text, {_tokens_sql('text')} AS toks FROM {vd}
        ), t AS (
          SELECT doc_id,
                 CAST(size(toks) AS DOUBLE) AS nt,
                 CAST(size(filter(toks, x -> x IN ({stops}))) AS DOUBLE)
                   AS stop_hits,
                 aggregate(transform(toks, w -> CAST(length(w) AS DOUBLE)),
                           CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
                   AS sum_wlen,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', ''))
                      AS DOUBLE) AS n_punct,
                 CAST(length(text) AS DOUBLE) AS n_chars
          FROM b)
        SELECT doc_id,
               CAST(nt AS INT) AS n_tokens,
               round(n_punct / greatest(n_chars, 1.0D), 6) AS punct_ratio,
               round(stop_hits / greatest(nt, 1.0D), 6) AS stopword_ratio,
               round(least(nt / 100.0D, 1.0D) * 0.5D
                     + (stop_hits / greatest(nt, 1.0D)) * 0.5D, 6)
                 AS quality_score,
               round(sum_wlen
                     / CAST(greatest(CAST(nt AS INT), 1) AS DOUBLE), 6)
                 AS mean_word_len,
               CAST((CAST(nt AS INT) BETWEEN 5 AND 5000
                     AND (sum_wlen
                          / CAST(greatest(CAST(nt AS INT), 1) AS DOUBLE))
                         BETWEEN 2.0D AND 12.0D) AS INT) AS passes_gates
        FROM t
        """)


# ---- oracle-side mirrors of the portable-hash north-star operators ----
#
# These SQL fragments restate the EXACT arithmetic of the Spark
# operators (operators/dedup.py, operators/similarity.py): md5-based
# 60-bit token/shingle hashes, seeded affine MinHash permutations, and
# literal LSH hyperplanes.  Everything is integer or
# identically-sequenced double arithmetic, so the oracle hash-matches.

_O_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_O_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
_M31 = (1 << 31) - 1


def _minhash_oracle(n_hashes: int = 64, bands: int = 16) -> str:
    """Linear in the corpus: the distinct shingle hashes of each
    document meet a ``VALUES`` table of the affine permutations, the
    signature is ``min`` per (doc, permutation), and candidates are an
    equi-join on (band, band slice) — never all pairs of documents."""
    from v6spark.operators.dedup import _perm_params

    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_perm_params(n_hashes), 1)
    )
    rpb = n_hashes // bands
    h = _O_H60.format(x="s")
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_O_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, text,
             list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                            i -> array_to_string(toks[i:i+2], ' ')) AS shingles
      FROM t),
    hv AS (
      SELECT DISTINCT doc_id, {h} % {_M31} AS h
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    perm(i, a, b) AS (VALUES {perms}),
    mins AS (
      SELECT doc_id, i, min((h * a + b) % {_M31}) AS m
      FROM hv, perm GROUP BY doc_id, i),
    sig AS (
      SELECT doc_id, list(m ORDER BY i) AS sg FROM mins GROUP BY doc_id),
    banded AS (
      SELECT doc_id, bnd, sg[bnd*{rpb}+1:bnd*{rpb}+{rpb}] AS slc
      FROM sig, range(0, {bands}) r(bnd)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.bnd = b.bnd AND a.slc = b.slc AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_filter(generate_series(1, {n_hashes}),
                                      i -> a.sg[i] = b.sg[i])) AS DOUBLE)
                 / {n_hashes}.0, 6) AS est_jaccard,
           round(CAST(len(list_intersect(list_distinct(da.shingles),
                                         list_distinct(db.shingles))) AS DOUBLE)
                 / CAST(len(list_distinct(da.shingles)) + len(list_distinct(db.shingles))
                        - len(list_intersect(list_distinct(da.shingles),
                                             list_distinct(db.shingles))) AS DOUBLE),
                 6) AS jaccard,
           CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    JOIN sh da ON da.doc_id = c.id_a
    JOIN sh db ON db.doc_id = c.id_b
    ORDER BY c.id_a, c.id_b
    """


@register("q_dedup_minhash", TIER, _minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates, exact-verified (north
    star: near-dedup + fuzzy string matching).

    Pipeline: portable md5-based shingle hashes -> 64-hash signature
    (seeded affine permutations) -> 16-band LSH bucketing -> candidate
    pairs -> exact n-gram Jaccard + Levenshtein verification on the
    survivors only (the two-stage near-dup design: the quadratic
    verify work never touches non-candidates).  Scale shape:
    signature -> band-explode -> hash-shuffle on uniform band buckets;
    the all-pairs join never materializes (and
    ``max_bucket_size`` guards degenerate boilerplate clusters).
    The oracle restates the identical integer arithmetic in SQL —
    ``engine="catalyst"`` keeps this judged plan's whole lineage
    SQL-reproducible and Python-free (the library default is the
    bit-identical Arrow signature kernel: 4.0-5.7 s against 5.6-9.6 s
    for the aggregate's signatures of 100k documents on a 4-vCPU host;
    see ``minhash_signature_arrow``).
    """
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    return near_dup_report(
        docs, n_hashes=64, bands=16, engine="catalyst"
    )


_SIMHASH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_O_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(toks, s -> {_O_H60.format(x='s')}) AS hv
      FROM t),
    v AS (
      SELECT doc_id, j,
             CASE WHEN list_sum(list_transform(hv, x -> 2 * ((x >> j) & 1) - 1)) > 0
                  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS bit
      FROM h, range(0, 60) r(j))
    SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
    FROM v GROUP BY doc_id
    ORDER BY doc_id
    """


@register("q_dedup_simhash", TIER, _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (north star: near-dedup family) — 60-bit,
    portable-hash, pure Catalyst.

    Per-bit majority vote over md5-based token hashes as a whole-
    stage-codegen HashAggregate over exploded hashes, bit counts
    packed 2-per-long into 32-bit lanes
    (operators/dedup.py::simhash_signature_portable, engine="agg") —
    JVM-side, zero Python, bit-for-bit reproducible in the SQL
    oracle, ANSI-overflow-safe for any real document length, and ~3x
    the interpreted HOF-fold form once data dominates (the r10 100x
    stress's worst plan-identical ratio, 25.2x, was exactly that
    fold; HigherOrderFunction has no codegen).  The shuffle carries
    one 33-long row per document after map-side partial aggregation.  Near-dups are pairs within small Hamming
    distance, bucketed on bit-prefixes so that is a join, not a scan.
    """
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    return simhash_signature_portable(docs)


def _ann_oracle(n_planes: int = 6, dim: int = 64, min_cosine: float = 0.2) -> str:
    from v6spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(n_planes, dim)
    rows = ",\n                 ".join(
        "(" + str(j) + ", [" + ",".join(repr(x) for x in p) + "])"
        for j, p in enumerate(planes)
    )
    return f"""
    WITH planes AS (
      SELECT j, pv FROM (VALUES {rows}) p(j, pv)),
    dv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    b AS (
      SELECT dv.vec_id, any_value(dv.v) AS v,
             CAST(sum(CASE WHEN list_dot_product(dv.v, p.pv) >= 0
                      THEN (CAST(1 AS BIGINT) << p.j) ELSE 0 END) AS BIGINT) AS bucket,
             any_value(list_dot_product(dv.v, dv.v)) AS n2
      FROM dv, planes p
      GROUP BY dv.vec_id)
    SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
           round(CASE WHEN a.n2 > 0 AND b2.n2 > 0
                 THEN list_dot_product(a.v, b2.v) / (sqrt(a.n2) * sqrt(b2.n2)) END,
                 6) AS cosine
    FROM b a JOIN b b2
      ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE round(CASE WHEN a.n2 > 0 AND b2.n2 > 0
                THEN list_dot_product(a.v, b2.v) / (sqrt(a.n2) * sqrt(b2.n2)) END,
                6) >= {min_cosine}
    ORDER BY id_a, id_b
    """


@register("q_similarity_ann", TIER, _ann_oracle(n_planes=14))
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate near-neighbor pairs (north star: the
    scale path for similarity search).

    Exact cosine is computed only within sign-bit buckets (14
    deterministic hyperplanes); tested for consistency against brute
    force in tests/test_dedup_similarity.py.  The hyperplanes are
    plan-time literals, so the oracle restates the identical bucket
    assignment and cosine arithmetic.

    Plane count is OCCUPANCY-BOUNDED, not recall-maximal: 14 planes =
    16384 cells keeps the within-cell candidate self-join (the
    quadratic term: every pair pays a 64-dim dot product)
    sub-quadratic through the 100x stress corpus (~12 vectors/cell at
    200k vectors — 100x wall ~3.9 s vs 7.8 s at 13 planes and 811x
    at the old 6-plane pin whose 64 cells made occupancy grow
    linearly with the corpus).  At small sf the cells are sparse and
    only strong near-neighbors collide on all 14 sign bits — that is
    the by-design ANN recall/cost trade, and the scale path a 100 TB
    corpus actually needs.
    """
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"))
    return ann_lsh_pairs(emb, n_planes=14, dim=64, min_cosine=0.2)


def _lang_id_oracle() -> str:
    from v6spark.operators.text import LANG_PROFILES

    # Java regex accepts \\uXXXX; RE2 (DuckDB) needs the literal chars.
    cjk_literal = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"
    score_cols = []
    for code in sorted(LANG_PROFILES):
        words = ",".join(f"'{w}'" for w in LANG_PROFILES[code])
        score_cols.append(
            f"len(list_intersect(toks, [{words}])) AS s_{code}"
        )
    scores = ",\n             ".join(score_cols)
    best = "greatest(s_de, s_en, s_es, s_fr, s_zh)"
    return f"""
    WITH t AS (
      SELECT lang, text, {_O_TOKS} AS toks FROM documents),
    s AS (
      SELECT lang,
             {scores},
             CASE WHEN regexp_matches(text, '{cjk_literal}') THEN 10 ELSE 0 END AS s_zh
      FROM t),
    p AS (
      SELECT lang,
             CASE WHEN {best} <= 0 THEN 'und'
                  WHEN s_de = {best} THEN 'de'
                  WHEN s_en = {best} THEN 'en'
                  WHEN s_es = {best} THEN 'es'
                  WHEN s_fr = {best} THEN 'fr'
                  ELSE 'zh' END AS pred_lang
      FROM s)
    SELECT lang, pred_lang, count(*) AS n
    FROM p GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """


@register("q_lang_id", TIER, _lang_id_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by stopword-profile argmax (north star:
    language-ID heuristic) — per (lang, pred_lang) confusion counts.

    Scores are counts of DISTINCT profile stopwords present plus a CJK
    character signal; the argmax tie-break is the smallest language
    code, which the oracle restates as an ordered CASE (de < en < es <
    fr < zh); zero evidence for every profile yields 'und'.

    r12: ONE spark.sql build stating the argmax as the SAME ordered
    CASE the oracle uses (value-identical to the operators/text.py
    array_sort argmax: smallest code wins ties; NULL-token scores fall
    to 'und' because s_zh is always 0/10 and Spark's greatest skips
    NULLs).  ~0.21 s of Column/py4j build cost removed; lang_id stays
    the library operator.
    """
    vd = ensure_view(spark, sf_dir, "documents", spread=True)
    score_cols = ",\n                 ".join(
        f"size(array_intersect(toks, array("
        + ",".join(f"'{w}'" for w in LANG_PROFILES[code])
        + f"))) AS s_{code}"
        for code in sorted(LANG_PROFILES)
    )
    cjk = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"
    best = "greatest(s_de, s_en, s_es, s_fr, s_zh)"
    return spark.sql(f"""
        WITH t AS (
          SELECT lang, text, {_tokens_sql('text')} AS toks FROM {vd}
        ), s AS (
          SELECT lang,
                 {score_cols},
                 CASE WHEN text RLIKE '{cjk}' THEN 10 ELSE 0 END AS s_zh
          FROM t
        ), p AS (
          SELECT lang,
                 CASE WHEN {best} <= 0 THEN 'und'
                      WHEN s_de = {best} THEN 'de'
                      WHEN s_en = {best} THEN 'en'
                      WHEN s_es = {best} THEN 'es'
                      WHEN s_fr = {best} THEN 'fr'
                      ELSE 'zh' END AS pred_lang
          FROM s)
        SELECT lang, pred_lang, COUNT(1) AS n
        FROM p GROUP BY lang, pred_lang
        """)
