"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship dedup pipeline on a deterministic
fixture corpus. ``queries()`` exposes one entry per implemented operator
from SURVEY.md §2 (plus the training-data-pipeline operators); each
SQL-expressible one has a matching DuckDB string in ``oracle_sql()``.

Design: queries whose SQL is dialect-portable use ONE shared ANSI string
executed by both engines (strongest parity guarantee); text/array queries
have per-dialect SQL. The only rows-only (no-oracle) entries left are the
genuinely non-SQL ones, and each carries an in-query self-oracle that
raises on violation: the bootstrap CI (seeded numpy RNG — bit-level
determinism across two plans + interval invariants) and the three dedup
pipeline stages (plan-independence across two shuffle-partition settings).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _register(spark: SparkSession, sf_dir: str) -> None:
    """Register the sf tables as temp views, ONCE per (session, sf_dir).

    Every query calls this; re-reading ten parquet footers (file listing +
    schema read, ~0.6 s of driver-side wall) per query was pure overhead
    inside each timed window (guide §1: measure — it was the single largest
    constant across ALL small queries). Temp views persist for the session,
    so after the first call this is a no-op; switching sf_dir in the same
    session re-registers."""
    if getattr(spark, "_sylph_registered_sf", None) == sf_dir:
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark._sylph_registered_sf = sf_dir


# ---------------------------------------------------------------------------
# Shared ANSI SQL — identical text runs on Spark and DuckDB.
# Every float output is ROUND(x, 6); every column aliased identically.
# ---------------------------------------------------------------------------

SHARED_SQL: dict[str, str] = {
    # A1 hash-agg counting (sketch.rs:690-731): the sample sketch IS a
    # groupBy count.
    "a1_hash_agg": """
        SELECT event_type, COUNT(*) AS cnt
        FROM events GROUP BY event_type
    """,
    # A4 mean read length (sketch.rs:824-826)
    "a4_mean_len": """
        SELECT lang, ROUND(AVG(n_chars), 6) AS mean_len, COUNT(*) AS n_docs
        FROM documents GROUP BY lang
    """,
    # A5 genome k-mer dedup (sketch.rs:590-600): combos seen >=2 are dropped
    # entirely (both copies).
    "a5_dup_mask": """
        SELECT l_orderkey AS orderkey, l_partkey AS partkey
        FROM lineitem
        GROUP BY l_orderkey, l_partkey
        HAVING COUNT(*) = 1
    """,
    # A6 min-spacing thinning (sketch.rs:602-619): keep a row only if far
    # enough past the previous one (window lag analog).
    "a6_window_thin": """
        SELECT event_id FROM (
            SELECT event_id,
                   ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
            FROM events
        ) g
        WHERE gap IS NULL OR gap > INTERVAL 30 SECOND
    """,
    # A7 coverage median (contain.rs:655-663)
    "a7_median": """
        SELECT l_returnflag AS grp, ROUND(MEDIAN(l_quantity), 6) AS median_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    # A10 mean/variance (inference.rs:104-124)
    "a10_mean_var": """
        SELECT l_linestatus AS grp,
               ROUND(AVG(l_extendedprice), 6) AS mean_price,
               ROUND(VAR_POP(l_extendedprice), 6) AS var_price
        FROM lineitem GROUP BY l_linestatus
    """,
    # A12 abundance normalization (contain.rs:319-326): share of total
    "a12_abundance": """
        SELECT n_name, ROUND(SUM(c_acctbal) * 100.0 / SUM(SUM(c_acctbal)) OVER (), 6) AS rel_abund
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    # A13 covered-bases estimate (contain.rs:391-408): two aggregates + arith
    "a13_covered_ratio": """
        SELECT l_returnflag AS grp,
               ROUND(SUM(l_extendedprice * (1 - l_discount)) / SUM(l_quantity), 6) AS covered_ratio
        FROM lineitem GROUP BY l_returnflag
    """,
    # E1 ratio_lambda (inference.rs:207-242): modal histogram bin i*, λ =
    # cnt[i*+1]/cnt[i*]·(i*+1), guards at min-count 3.
    "e1_ratio_lambda": """
        WITH hist AS (
            SELECT l_returnflag AS grp, CAST(l_quantity AS INT) AS val, COUNT(*) AS cnt
            FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS INT)
        ), modal AS (
            SELECT grp, val AS most_ind, cnt AS modal_cnt FROM (
                SELECT grp, val, cnt,
                       ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cnt DESC, val DESC) AS rn
                FROM hist
            ) r WHERE rn = 1
        )
        SELECT m.grp AS grp,
               ROUND(h.cnt * 1.0 / m.modal_cnt * (m.most_ind + 1), 6) AS lambda_est
        FROM modal m JOIN hist h ON h.grp = m.grp AND h.val = m.most_ind + 1
        WHERE h.cnt >= 3 AND m.modal_cnt >= 3
    """,
    # E3 mme_lambda (inference.rs:126-155): λ = v/m + m − 1
    "e3_mme_lambda": """
        SELECT l_returnflag AS grp,
               ROUND(VAR_POP(l_quantity) / AVG(l_quantity) + AVG(l_quantity) - 1, 6) AS mme_lambda
        FROM lineitem GROUP BY l_returnflag
    """,
    # E7 ANI from λ (contain.rs:817-847): adj=cont/((1-e^{-λ})·total); ANI=adj^{1/k}
    "e7_ani_arith": """
        SELECT l_returnflag AS grp,
               ROUND(POWER(
                   SUM(CASE WHEN l_quantity > 10 THEN 1 ELSE 0 END) * 1.0
                   / ((1 - EXP(-1.0)) * COUNT(*)),
                   1.0 / 7.0), 6) AS adj_ani
        FROM lineitem GROUP BY l_returnflag
    """,
    # J1 containment probe join (contain.rs:632-652): fraction of a
    # supplier's part set contained in the recent-shipment set, ^(1/k)
    "j1_containment": """
        SELECT l_suppkey AS suppkey,
               COUNT(DISTINCT l_partkey) AS total_parts,
               COUNT(DISTINCT CASE WHEN l_shipdate >= DATE '1995-01-01' THEN l_partkey END) AS contained,
               ROUND(POWER(COUNT(DISTINCT CASE WHEN l_shipdate >= DATE '1995-01-01' THEN l_partkey END) * 1.0
                     / COUNT(DISTINCT l_partkey), 1.0 / 7.0), 6) AS naive_ani
        FROM lineitem GROUP BY l_suppkey
    """,
    # J3 winner-table argmax (contain.rs:410-459): best supplier per part
    "j3_winner_argmax": """
        SELECT partkey, winner_suppkey FROM (
            SELECT l_partkey AS partkey, l_suppkey AS winner_suppkey,
                   ROW_NUMBER() OVER (PARTITION BY l_partkey
                                      ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, l_suppkey) AS rn
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ) w WHERE rn = 1
    """,
    # J4 derep anti-filter (contain.rs:353-375): drop if pass1→pass2 loses
    # more than a threshold of contained k-mers
    "j4_derep_filter": """
        SELECT suppkey FROM (
            SELECT l_suppkey AS suppkey, COUNT(*) AS total,
                   SUM(CASE WHEN l_shipdate >= DATE '1995-07-01' THEN 1 ELSE 0 END) AS pass2
            FROM lineitem GROUP BY l_suppkey
        ) t WHERE total - pass2 >= 0.5 * total
    """,
    # J5 semi/anti membership (contain.rs:637-645 analog)
    "j5_anti_join": """
        SELECT c_custkey FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    # O3 result ordering (contain.rs:329-334) + top-k
    "o3_topk": """
        SELECT o_orderkey, ROUND(o_totalprice, 6) AS total_price
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    # O4 histogram-mode top-1 (inference.rs:228-230)
    "o4_hist_mode": """
        SELECT grp, modal_val FROM (
            SELECT l_returnflag AS grp, CAST(l_quantity AS INT) AS modal_val,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY COUNT(*) DESC, CAST(l_quantity AS INT) DESC) AS rn
            FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS INT)
        ) m WHERE rn = 1
    """,
    # Exact dedup over documents (training-data op): fingerprint groupBy
    "dd_exact_dedup": """
        SELECT MD5(text) AS fp, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY MD5(text)
    """,
    # Document fingerprinting (training-data op)
    "txt_fingerprint": """
        SELECT doc_id, MD5(LOWER(text)) AS fp, n_chars
        FROM documents
    """,
    # Language-ID (training-data op): stopword-PROFILE hit-count argmax over
    # 4 languages via the length-replace trick, ties broken by profile order,
    # 'other' on zero hits; portable across dialects.
    "txt_langid": None,  # filled in below (generated from LANG_PROFILES)
    # E10 k-mer identity estimate (contain.rs:901-951):
    # eps = Σcnt_{>1}/(Σcnt_{>1} + #cnt_{=1} + 0.1); identity = eps^{1/k}
    "e10_kmer_identity": """
        WITH hist AS (
            SELECT l_returnflag AS grp, l_partkey, COUNT(*) AS cnt
            FROM lineitem GROUP BY l_returnflag, l_partkey
        )
        SELECT grp,
               ROUND(POWER(
                   SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 /
                   (SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                    + SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) + 0.1),
                   1.0 / 7.0), 6) AS identity_est
        FROM hist GROUP BY grp
    """,
}


# Stopword profiles: the highest-frequency closed-class words of each
# language, space-delimited so they match whole tokens only. Scoring is
# argmax over the profiles, earlier entries winning ties.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to"],
    "fr": ["le", "la", "les", "et", "est"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "es": ["el", "los", "que", "es", "una"],
}


def _langid_sql() -> str:
    """Generate the txt_langid SQL from ``LANG_PROFILES``: per-language
    stopword hit counts over the lowercased space-padded text, CASE-chain
    argmax with earlier profiles winning ties, 'other' on zero hits."""

    def hits(word: str) -> str:
        token = f" {word} "
        return (
            f"(LENGTH(pt) - LENGTH(REPLACE(pt, '{token}', ''))) / {len(token)}"
        )

    scores = {
        lang: " + ".join(hits(w) for w in words)
        for lang, words in LANG_PROFILES.items()
    }
    langs = list(LANG_PROFILES)
    cases = []
    for lang in langs:
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{o}" for o in langs if o != lang
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    score_cols = ",\n               ".join(
        f"{expr} AS s_{lang}" for lang, expr in scores.items()
    )
    return f"""
        SELECT doc_id,
               CASE {' '.join(cases)} ELSE 'other' END AS pred_lang,
               lang
        FROM (
            SELECT doc_id, lang,
               {score_cols}
            FROM (SELECT doc_id, lang, CONCAT(' ', LOWER(text), ' ') AS pt
                  FROM documents) p
        ) s
    """


SHARED_SQL["txt_langid"] = _langid_sql()


# ---------------------------------------------------------------------------
# Dialect-specific pairs: (spark_sql, duckdb_sql). Same output schema/aliases.
# ---------------------------------------------------------------------------

_DOCS_SHINGLE_SPARK = """
    SELECT doc_id, SUBSTR(s, pos, 8) AS g FROM (
        SELECT doc_id, LOWER(SUBSTR(text, 1, 160)) AS s FROM documents
    ) t LATERAL VIEW EXPLODE(SEQUENCE(1, GREATEST(LENGTH(s) - 7, 1))) x AS pos
"""

_DOCS_SHINGLE_DUCK = """
    SELECT doc_id, SUBSTR(s, CAST(gs.i AS INT), 8) AS g FROM (
        SELECT doc_id, LOWER(SUBSTR(text, 1, 160)) AS s FROM documents
    ) t JOIN GENERATE_SERIES(1, 160) AS gs(i)
      ON gs.i <= GREATEST(LENGTH(t.s) - 7, 1)
"""


# Multi-band text MinHash (VERDICT r4 #2): B bands × R rows with
# OR-semantics across bands — the S-curve the single-band form lacked
# (a ~0.7-Jaccard pair passes SOME band w.p. 1-(1-J^R)^B ≈ 0.995 at 8×2,
# vs J^4 ≈ 0.24 for one 4-row band). Hash cost unchanged: still ONE md5
# per (doc, gram) row (VERDICT r3 #4); the B·R slot hashes derive from two
# 32-bit digest halves via Kirsch-Mitzenmacher double hashing
# g_i = (h1 + i·h2) mod 2^32 — portable integer arithmetic in both
# dialects (only the hex→int cast differs).
TEXT_LSH_BANDS = 8
TEXT_LSH_ROWS = 2


def _hex_int_spark(expr: str) -> str:
    return f"CAST(CONV({expr}, 16, 10) AS BIGINT)"


def _hex_int_duck(expr: str) -> str:
    return f"CAST('0x' || {expr} AS BIGINT)"


def _minhash_sig_cte(shingle_sql: str, hex_int) -> str:
    """Shared CTE prefix: shingles → per-doc B·R MinHash slots → B band
    keys (doc_id, band0..band{B-1})."""
    b, r = TEXT_LSH_BANDS, TEXT_LSH_ROWS
    slots = ",\n               ".join(
        f"MIN(MOD(h1 + {i} * h2, 4294967296)) AS s{i}" for i in range(b * r)
    )
    keys = ",\n               ".join(
        "CONCAT("
        + ", '_', ".join(f"CAST(s{j * r + i} AS STRING)" for i in range(r))
        + f") AS band{j}"
        for j in range(b)
    )
    return f"""
        f AS (SELECT doc_id, MD5(g) AS fp FROM ({shingle_sql}) sh),
        hh AS (SELECT doc_id,
                      {hex_int("SUBSTR(fp, 1, 8)")} AS h1,
                      {hex_int("SUBSTR(fp, 9, 8)")} AS h2
               FROM f),
        sig AS (SELECT doc_id, {slots} FROM hh GROUP BY doc_id),
        bkeys AS (SELECT doc_id, {keys} FROM sig)
    """


def _minhash_sql(shingle_sql: str, hex_int) -> str:
    return f"WITH {_minhash_sig_cte(shingle_sql, hex_int)} SELECT * FROM bkeys"


def _lsh_pairs_sql(shingle_sql: str, hex_int) -> str:
    """Banded-LSH candidate pairs: OR across bands (a pair is a candidate
    iff it collides in AT LEAST one band) — the text-table twin of the
    image pipeline's banded candidates stage."""
    b = TEXT_LSH_BANDS
    tall = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, band{j} AS key FROM bkeys"
        for j in range(b)
    )
    return f"""
        WITH {_minhash_sig_cte(shingle_sql, hex_int)},
        tall AS ({tall})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM tall a JOIN tall b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


def _simhash_sql(shingle_sql: str) -> str:
    # 32-bit SimHash from md5 nibble high-bits: bit_j = nibble_j >= 8,
    # majority vote over shingles — portable (no hex→int cast needed).
    bits = ", ".join(
        f"CASE WHEN SUM(CASE WHEN SUBSTR(fp, {j}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
        f"THEN '1' ELSE '0' END"
        for j in range(1, 33)
    )
    return f"""
        SELECT doc_id, CONCAT({bits}) AS simhash_bits FROM (
            SELECT doc_id, MD5(g) AS fp FROM ({shingle_sql}) sh
        ) f GROUP BY doc_id
    """


def _jaccard_sql(shingle_sql: str) -> str:
    # n-gram Jaccard near-dup pairs (training-data op): distinct shingles,
    # drop stop-shingles (df > 100), pair via shingle join.
    return f"""
        WITH sh AS (SELECT DISTINCT doc_id, g FROM ({shingle_sql}) s0),
        rare AS (
            SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 100
        ),
        shr AS (SELECT sh.doc_id, sh.g FROM sh JOIN rare ON sh.g = rare.g),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM shr a JOIN shr b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               CAST(ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
    """


# The ten nearest by cosine, ranked, with no global window: ROW_NUMBER()
# OVER (ORDER BY ...) with no partition runs as one unpartitioned WindowExec
# over every row (and logs a WARN for it). A top-k sort takes the ten, and
# posexplode numbers them in the same order (similarity descending, then
# vec_id ascending; sort_array puts NaN first and nulls last, as the ORDER
# BY does).
_EMB_KNN_SPARK = """
    WITH top AS (
        SELECT e.vec_id,
               AGGREGATE(ZIP_WITH(e.embedding, q.qe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                         CAST(0.0 AS DOUBLE), (a, v) -> a + v)
               / (SQRT(AGGREGATE(e.embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  * SQRT(AGGREGATE(q.qe, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               AS sim
        FROM embeddings e
        CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY sim DESC, e.vec_id
        LIMIT 10
    )
    SELECT -r.neg_id AS vec_id, pos + 1 AS rnk
    FROM (
        SELECT POSEXPLODE(SORT_ARRAY(COLLECT_LIST(STRUCT(sim, -vec_id AS neg_id)), false)) AS (pos, r)
        FROM top
    )
"""

_EMB_KNN_DUCK = """
    SELECT vec_id, rnk FROM (
        SELECT e.vec_id,
               ROW_NUMBER() OVER (ORDER BY
                   LIST_DOT_PRODUCT(e.embedding, q.qe)
                   / (SQRT(LIST_DOT_PRODUCT(e.embedding, e.embedding))
                      * SQRT(LIST_DOT_PRODUCT(q.qe, q.qe)))
                   DESC, e.vec_id) AS rnk
        FROM embeddings e
        CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
    ) r WHERE rnk <= 10
"""

_EMB_NN_SPARK = """
    SELECT vec_id, nn_id FROM (
        SELECT a.vec_id, b.vec_id AS nn_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   AGGREGATE(ZIP_WITH(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                             CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
                   / (SQRT(AGGREGATE(a.embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                      * SQRT(AGGREGATE(b.embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   DESC, b.vec_id) AS rnk
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 50
    ) r WHERE rnk = 1
"""

_EMB_NN_DUCK = """
    SELECT vec_id, nn_id FROM (
        SELECT a.vec_id, b.vec_id AS nn_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   LIST_DOT_PRODUCT(a.embedding, b.embedding)
                   / (SQRT(LIST_DOT_PRODUCT(a.embedding, a.embedding))
                      * SQRT(LIST_DOT_PRODUCT(b.embedding, b.embedding)))
                   DESC, b.vec_id) AS rnk
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 50
    ) r WHERE rnk = 1
"""

_TXT_QUALITY_SPARK = """
    SELECT doc_id,
           SIZE(SPLIT(TRIM(text), ' +')) AS n_tokens,
           CAST(ROUND((LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(text, '.', ''), ',', ''), '!', ''))) * 1.0
                 / LENGTH(text), 6) AS DOUBLE) AS punct_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1 ELSE 0 END AS quality_ok
    FROM documents
"""

_TXT_QUALITY_DUCK = """
    SELECT doc_id,
           LENGTH(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS n_tokens,
           CAST(ROUND((LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(text, '.', ''), ',', ''), '!', ''))) * 1.0
                 / LENGTH(text), 6) AS DOUBLE) AS punct_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1 ELSE 0 END AS quality_ok
    FROM documents
"""

# LSH-bucketed ANN (scale path for similarity search): bucket by the sign
# pattern of the first 8 dimensions (a fixed hyperplane LSH), then exact
# top-1 within bucket — the brute-force emb_knn is the baseline.
_EMB_ANN_SPARK = """
    SELECT vec_id, bucket, nn_id FROM (
        SELECT a.vec_id, a.bucket, b.vec_id AS nn_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   AGGREGATE(ZIP_WITH(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                             CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) DESC, b.vec_id) AS rnk
        FROM (SELECT vec_id, embedding,
                     CONCAT(CAST(CASE WHEN embedding[0] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END AS STRING)) AS bucket
              FROM embeddings) a
        JOIN (SELECT vec_id, embedding,
                     CONCAT(CAST(CASE WHEN embedding[0] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END AS STRING),
                            CAST(CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END AS STRING)) AS bucket
              FROM embeddings) b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 50
    ) r WHERE rnk = 1
"""

_EMB_ANN_DUCK = """
    SELECT vec_id, bucket, nn_id FROM (
        SELECT a.vec_id, a.bucket, b.vec_id AS nn_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                   LIST_DOT_PRODUCT(a.embedding, b.embedding) DESC, b.vec_id) AS rnk
        FROM (SELECT vec_id, embedding,
                     CONCAT(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[6] > 0 THEN 1 ELSE 0 END) AS bucket
              FROM embeddings) a
        JOIN (SELECT vec_id, embedding,
                     CONCAT(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END,
                            CASE WHEN embedding[6] > 0 THEN 1 ELSE 0 END) AS bucket
              FROM embeddings) b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 50
    ) r WHERE rnk = 1
"""

# A3 approx dedup (sketch.rs:733-769 scalable cuckoo filter, fpr 1e-4):
# HLL++ approx_count_distinct is the Spark analog. The checked output is
# the exact per-group distinct count PLUS a per-group tolerance flag
# (|HLL − exact| within 3·rsd relative, min 1 absolute); the oracle emits
# the same exact count with the flag hard-wired TRUE — an HLL estimate
# drifting out of its configured error band therefore hash-mismatches.
# This upgrades the r4 rows-only entry to a fully checked one while still
# exercising the sketch path (VERDICT r4 #1).
_A3_APPROX_SPARK = """
    SELECT l_partkey AS partkey,
           COUNT(DISTINCT l_suppkey) AS dedup_cnt,
           CAST(ABS(APPROX_COUNT_DISTINCT(l_suppkey, 0.01) - COUNT(DISTINCT l_suppkey))
                <= GREATEST(1.0, 3 * 0.01 * COUNT(DISTINCT l_suppkey)) AS INT) AS hll_in_band
    FROM lineitem GROUP BY l_partkey
"""

_A3_APPROX_DUCK = """
    SELECT l_partkey AS partkey,
           COUNT(DISTINCT l_suppkey) AS dedup_cnt,
           CAST(1 AS INT) AS hll_in_band
    FROM lineitem GROUP BY l_partkey
"""

DIALECT_SQL: dict[str, tuple[str, str]] = {
    "emb_ann_bucketed": (_EMB_ANN_SPARK, _EMB_ANN_DUCK),
    "a3_approx_dedup": (_A3_APPROX_SPARK, _A3_APPROX_DUCK),
    "dd_minhash_sig": (
        _minhash_sql(_DOCS_SHINGLE_SPARK, _hex_int_spark),
        _minhash_sql(_DOCS_SHINGLE_DUCK, _hex_int_duck),
    ),
    "dd_lsh_pairs": (
        _lsh_pairs_sql(_DOCS_SHINGLE_SPARK, _hex_int_spark),
        _lsh_pairs_sql(_DOCS_SHINGLE_DUCK, _hex_int_duck),
    ),
    "dd_simhash": (_simhash_sql(_DOCS_SHINGLE_SPARK), _simhash_sql(_DOCS_SHINGLE_DUCK)),
    "dd_ngram_jaccard": (_jaccard_sql(_DOCS_SHINGLE_SPARK), _jaccard_sql(_DOCS_SHINGLE_DUCK)),
    "emb_knn": (_EMB_KNN_SPARK, _EMB_KNN_DUCK),
    "emb_nn_same_label": (_EMB_NN_SPARK, _EMB_NN_DUCK),
    "txt_quality": (_TXT_QUALITY_SPARK, _TXT_QUALITY_DUCK),
}


# ---------------------------------------------------------------------------
# Spark-only operators (no SQL equivalent → rows-only driver check)
# ---------------------------------------------------------------------------


def _q_a8_tail_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 Poisson tail outlier cut (contain.rs:664-684): per-group coverage
    vector → median + max_cov via the numpy Poisson CDF."""
    import pandas as pd

    from sylph_spark import kernels as K

    _register(spark, sf_dir)
    df = spark.sql(
        "SELECT l_returnflag AS grp, CAST(l_quantity AS INT) AS cov FROM lineitem"
    )

    def fn(key, pdf):
        stats = K.coverage_stats(pdf["cov"].to_numpy(), total_kmers=len(pdf))
        max_cov = stats["max_cov"]
        return pd.DataFrame(
            [
                {
                    "grp": key[0],
                    "median_cov": stats["median_cov"],
                    "max_cov": -1.0 if max_cov == float("inf") else float(max_cov),
                }
            ]
        )

    return df.groupBy("grp").applyInPandas(
        fn, schema="grp string, median_cov double, max_cov double"
    )


def _q_e9_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 seeded bootstrap CI (contain.rs:849-898) per group.

    SELF-ORACLE (no SQL analog — the resamples come from numpy's seeded
    PCG stream): the plan is executed TWICE at different shuffle-partition
    counts and the outputs must be BIT-identical (the seed-7 determinism
    claim, contain.rs:854 — float.hex comparison, no rounding), and every
    row must satisfy the interval invariants: lo ≤ hi where defined, and
    lo/hi are NaN together (the ≥50-success gate of contain.rs:888 emits
    both bounds or neither). Any violation raises, which the driver's
    rows-only check records as the entry's error."""
    import math

    import pandas as pd

    from sylph_spark import kernels as K

    _register(spark, sf_dir)
    df = spark.sql(
        "SELECT l_returnflag AS grp, CAST(l_quantity AS INT) % 4 AS cov FROM lineitem"
    )

    def fn(key, pdf):
        lo, hi, llo, lhi = K.bootstrap_interval(pdf["cov"].to_numpy(), k=7.0)
        return pd.DataFrame(
            [
                {
                    "grp": key[0],
                    "ani_lo": lo if lo is not None else float("nan"),
                    "ani_hi": hi if hi is not None else float("nan"),
                }
            ]
        )

    out = df.groupBy("grp").applyInPandas(
        fn, schema="grp string, ani_lo double, ani_hi double"
    )

    def canon(res: DataFrame):
        rows = sorted(
            (r["grp"], float(r["ani_lo"]).hex(), float(r["ani_hi"]).hex())
            for r in res.collect()
        )
        for grp, lo_hex, hi_hex in rows:
            lo, hi = float.fromhex(lo_hex), float.fromhex(hi_hex)
            assert math.isnan(lo) == math.isnan(hi), (
                f"e9 group {grp!r}: one-sided interval ({lo}, {hi}) — the "
                "50-success gate must drop or keep both bounds"
            )
            assert math.isnan(lo) or lo <= hi, (
                f"e9 group {grp!r}: inverted interval ({lo}, {hi})"
            )
        return rows

    orig = spark.conf.get("spark.sql.shuffle.partitions")
    alt = "7" if orig != "7" else "13"
    try:
        spark.conf.set("spark.sql.shuffle.partitions", alt)
        alt_rows = canon(out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    if canon(out) != alt_rows:
        raise AssertionError(
            "e9_bootstrap_ci differs bit-wise between shuffle-partition "
            f"settings {alt} and {orig} — seeded bootstrap is not "
            "plan-deterministic"
        )
    return out


def _volatile_stage_plan_checked(spark: SparkSession, cfg, stage: str):
    """SELF-ORACLE for the pipeline entries (no SQL analog exists because
    the input is produced by Python kernels): run the full volatile
    pipeline TWICE at different shuffle-partition counts and assert the
    requested stage is identical (floats canonicalized to 9 dp — partition
    order can move partial double sums by ULPs). A partitioning-dependent
    bug (unsorted collect_list consumed order-sensitively, nondeterministic
    tie-break, driver-side state) breaks the equality; the driver's
    rows-only check then records the raised error. Returns the stage
    DataFrame from the run at the session's own setting."""
    from sylph_spark import fixtures
    from sylph_spark.pipeline import images_df_from_pandas, run_volatile

    images, _ = fixtures.generate_corpus(n_base=100, seed=42)
    df = images_df_from_pandas(spark, images)
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    alt = "7" if orig != "7" else "13"

    def canon(out: DataFrame):
        import math

        def c(v):
            if isinstance(v, float):
                return "nan" if math.isnan(v) else round(v, 9)
            return v

        return sorted((tuple(c(v) for v in row) for row in out.collect()), key=repr)

    try:
        spark.conf.set("spark.sql.shuffle.partitions", alt)
        alt_rows = canon(run_volatile(spark, df, cfg)[stage])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    out = run_volatile(spark, df, cfg)[stage]
    if canon(out) != alt_rows:
        raise AssertionError(
            f"pipeline stage {stage!r} differs between shuffle-partition "
            f"settings {alt} and {orig} — plan-dependent result"
        )
    return out


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: full image+caption dedup pipeline on the deterministic
    fixture corpus (FIXTURES.md), volatile run, partitioning-independence
    self-checked (see _volatile_stage_plan_checked)."""
    from sylph_spark.config import SketchConfig

    return _volatile_stage_plan_checked(spark, SketchConfig(), "clusters")


def _q_dedup_rescored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winner-table rescored pair scores with kmers_lost + bootstrap CI
    columns (contain.rs:410-459, 637-645, 849-898) on the fixture corpus,
    partitioning-independence self-checked."""
    from sylph_spark.config import SketchConfig

    out = _volatile_stage_plan_checked(
        spark, SketchConfig(bootstrap_iters=100), "rescored"
    )
    return out.select(
        "id_a", "id_b", "contain_count", "kmers_lost", "adj_sim",
        "ani_lo", "ani_hi",
    )


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sylph_spark.config import SketchConfig

    return _volatile_stage_plan_checked(spark, SketchConfig(), "survivors")


def _q_e2_mle_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 zero-inflated-Poisson MLE via Newton-Raphson (inference.rs:157-205,
    hidden --mle flag) per group. Exact oracle: the fixed-1000-iteration
    Newton recurrence as a recursive CTE (_E2_MLE_ZIP_DUCK)."""
    import pandas as pd

    from sylph_spark import kernels as K

    _register(spark, sf_dir)
    df = spark.sql(
        "SELECT l_returnflag AS grp, CAST(l_quantity AS INT) % 5 AS cov FROM lineitem"
    )

    def fn(key, pdf):
        lam = K.mle_zip(pdf["cov"].to_numpy(), k=7.0)
        return pd.DataFrame(
            [{"grp": key[0], "mle_lambda": lam if lam is not None else float("nan")}]
        )

    return df.groupBy("grp").applyInPandas(fn, schema="grp string, mle_lambda double")


_S2_ORACLE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".bench_cache", "s2_oracle.parquet"
)


def _ensure_s2_oracle_parquet() -> str:
    """Driver-side recomputation of the routed fixture for the S2 oracle
    (VERDICT r4 #1): decode every fixture image in a plain Python loop (no
    Spark — no mapInArrow, no Arrow batching, no joins) and persist
    (image_id, fmt, decode_ok) as one parquet file DuckDB can aggregate.
    A bug anywhere in the Spark plumbing (batch slicing, the features join,
    the routed groupBy) then hash-mismatches against this table. Rewritten
    on every call (cheap: 100-ish small fixture images) so it can never go
    stale against the fixture generator."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sylph_spark import fixtures
    from sylph_spark.operators.multimodal import decode_any

    images, _ = fixtures.generate_corpus(n_base=100, seed=42)
    oks = []
    for data, fmt in zip(images["bytes"], images["fmt"]):
        try:
            decode_any(data, fmt)
            oks.append(True)
        except NotImplementedError:
            oks.append(False)
    tbl = pa.table(
        {
            "image_id": images["image_id"].tolist(),
            "fmt": images["fmt"].tolist(),
            "decode_ok": oks,
        }
    )
    os.makedirs(os.path.dirname(_S2_ORACLE_PATH), exist_ok=True)
    tmp = _S2_ORACLE_PATH + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, _S2_ORACLE_PATH)
    return _S2_ORACLE_PATH


_S2_FORMAT_ROUTING_DUCK = f"""
    SELECT fmt, COUNT(*) AS n,
           CAST(SUM(CAST(decode_ok AS INT)) AS BIGINT) AS n_decoded
    FROM read_parquet('{_S2_ORACLE_PATH}') GROUP BY fmt
"""


def _q_s2_format_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 file-type routing (sketch.rs:95-121): fixture images routed by
    format, with decode validation counts per format. Oracle: the same
    fixture decoded driver-side without Spark (_ensure_s2_oracle_parquet),
    aggregated by DuckDB."""
    from sylph_spark import fixtures
    from sylph_spark.operators.multimodal import image_features
    from sylph_spark.pipeline import images_df_from_pandas

    _ensure_s2_oracle_parquet()
    images, _ = fixtures.generate_corpus(n_base=100, seed=42)
    df = images_df_from_pandas(spark, images)
    feats = image_features(df).join(df.select("image_id", "fmt"), "image_id")
    from pyspark.sql import functions as F

    return feats.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("decode_ok").cast("int")).alias("n_decoded"),
    )


def _q_a2_dedup_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 dedup-gated counting via the library operator
    (operators.dedup.dedup_gated_counts, sketch.rs:690-731): multiplicity
    counted over distinct fingerprints, not raw occurrences."""
    from pyspark.sql import functions as F

    from sylph_spark.operators.dedup import dedup_gated_counts

    _register(spark, sf_dir)
    return dedup_gated_counts(
        spark.table("lineitem"), "l_partkey", "l_suppkey"
    ).select(F.col("l_partkey").alias("partkey"), "dedup_cnt")


_A2_DEDUP_GATED_DUCK = """
    SELECT l_partkey AS partkey, COUNT(DISTINCT l_suppkey) AS dedup_cnt
    FROM lineitem GROUP BY l_partkey
"""


def _q_a6_running_thin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 running-state min-spacing thinning (sketch.rs:602-619): keep an
    event iff strictly >30s past the last KEPT one per user — true running
    state via the library operator (grouped applyInPandas), NOT the window
    LAG analog (a6_window_thin keeps both as documented contrast)."""
    from sylph_spark.operators.windowed import min_spacing_thin

    _register(spark, sf_dir)
    events = spark.table("events")
    kept = min_spacing_thin(
        events, group_cols=["user_id"], pos_col="ts", spacing=30.0,
        tie_cols=["event_id"],
    )
    return kept.select("event_id")


# DuckDB oracle for the running-state thin: the greedy scan is a linear
# recurrence, expressible as a recursive CTE stepping one row per user per
# iteration (exact, engine-independent semantics — full hash check).
_A6_RUNNING_THIN_DUCK = """
    WITH RECURSIVE ord AS (
        SELECT user_id, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk AS (
        SELECT user_id, event_id, ts, rn, ts AS last_kept, TRUE AS kept
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.ts, o.rn,
               CASE WHEN o.ts > w.last_kept + INTERVAL 30 SECOND
                    THEN o.ts ELSE w.last_kept END,
               o.ts > w.last_kept + INTERVAL 30 SECOND
        FROM ord o JOIN walk w ON o.user_id = w.user_id AND o.rn = w.rn + 1
    )
    SELECT event_id FROM walk WHERE kept
"""


def _q_e4_nb_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 negative-binomial grid search for λ (inference.rs:5-102,
    binary_search_lambda): 10,000-step flat scan minimizing the 2s/1s
    ratio mismatch. Exact oracle: series cross-join + windowed argmin
    (_E4_NB_GRID_DUCK)."""
    import pandas as pd

    from sylph_spark import kernels as K

    _register(spark, sf_dir)
    df = spark.sql(
        "SELECT l_returnflag AS grp, CAST(l_quantity AS INT) % 6 AS cov FROM lineitem"
    )

    def fn(key, pdf):
        lam = K.binary_search_lambda(pdf["cov"].to_numpy())
        return pd.DataFrame(
            [{"grp": key[0], "nb_lambda": lam if lam is not None else float("nan")}]
        )

    return df.groupBy("grp").applyInPandas(fn, schema="grp string, nb_lambda double")


SPARK_ONLY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a2_dedup_gated": _q_a2_dedup_gated,
    "e2_mle_zip": _q_e2_mle_zip,
    "s2_format_routing": _q_s2_format_routing,
    "a8_tail_cut": _q_a8_tail_cut,
    "e9_bootstrap_ci": _q_e9_bootstrap,
    "e4_nb_grid": _q_e4_nb_grid,
    "a6_running_thin": _q_a6_running_thin,
    "dedup_clusters": _q_dedup_clusters,
    "dedup_survivors": _q_dedup_survivors,
    "dedup_rescored": _q_dedup_rescored,
}

# DuckDB oracle for the Poisson tail cut (contain.rs:664-684): the CDF walk
# over distinct present values ≥ covs[len/2] is equivalent — the Poisson CDF
# is monotone in v and the first walked value (the median itself, cdf ≈ 0.5)
# always passes — to max(present v ≥ median with v ≤ v_thr), where v_thr is
# the largest integer whose CDF at λ=median stays under CUTOFF_PVALUE. The
# CDF itself is a linear recurrence term_{j+1} = term_j·m/(j+1), expressed
# as a recursive CTE; no walk runs when median ≥ 30 (max_cov = -1 sentinel,
# matching the Spark query's encoding of +inf).
_A8_TAIL_CUT_DUCK = """
    WITH RECURSIVE covs AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS INT) AS cov FROM lineitem
    ),
    med AS (
        SELECT grp, CAST(cov AS DOUBLE) AS median_cov FROM (
            SELECT grp, cov,
                   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cov) - 1 AS rnk,
                   COUNT(*) OVER (PARTITION BY grp) AS n
            FROM covs
        ) t WHERE rnk = n // 2
    ),
    walk AS (
        SELECT grp, median_cov AS m, 0 AS j,
               EXP(-median_cov) AS term, EXP(-median_cov) AS cdf
        FROM med WHERE median_cov < 30
        UNION ALL
        SELECT grp, m, j + 1, term * m / (j + 1), cdf + term * m / (j + 1)
        FROM walk WHERE cdf < 0.9999999999
    ),
    thr AS (
        SELECT grp, MAX(j) AS v_thr FROM walk
        WHERE cdf < 0.9999999999 GROUP BY grp
    ),
    mx AS (
        SELECT c.grp, MAX(c.cov) AS max_cov
        FROM covs c JOIN med USING (grp) JOIN thr USING (grp)
        WHERE c.cov >= med.median_cov AND c.cov <= thr.v_thr
        GROUP BY c.grp
    )
    SELECT med.grp AS grp, med.median_cov AS median_cov,
           CAST(COALESCE(mx.max_cov, -1.0) AS DOUBLE) AS max_cov
    FROM med LEFT JOIN mx USING (grp)
"""

# DuckDB oracle for the zero-inflated-Poisson MLE (inference.rs:157-205):
# the Newton-Raphson update is a scalar recurrence with a FIXED iteration
# count (1000, matching the kernel), expressed as a recursive CTE. The
# zero-ratio is rounded through float32 exactly as the kernel does
# (np.float32 ↔ CAST AS REAL); both engines then iterate in float64 with
# the same libm exp, and Newton's contraction squashes sub-ULP input
# differences, so the 6dp-rounded fixpoints agree.
_E2_MLE_ZIP_DUCK = """
    WITH RECURSIVE covs AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS INT) % 5 AS cov
        FROM lineitem
    ),
    stats AS (
        SELECT grp,
               AVG(CAST(cov AS DOUBLE)) AS m,
               CAST(CAST(COUNT(*) FILTER (WHERE cov = 0) AS DOUBLE)
                    / COUNT(*) AS REAL) AS rat32,
               COUNT(*) FILTER (WHERE cov <> 0) AS nz,
               COUNT(DISTINCT cov) FILTER (WHERE cov <> 0) AS ndist
        FROM covs GROUP BY grp
    ),
    iter AS (
        SELECT grp, m, CAST(rat32 AS DOUBLE) AS rat, 0 AS i,
               m / (1.0 - CAST(rat32 AS DOUBLE)) AS curr
        FROM stats
        UNION ALL
        SELECT grp, m, rat, i + 1,
               curr - ((1.0 - rat) * curr - m * (1.0 - EXP(-curr)))
                    / ((1.0 - rat) - m * EXP(-curr))
        FROM iter WHERE i < 1000
    )
    SELECT s.grp AS grp,
           CASE WHEN s.nz >= 25 AND s.ndist >= 2
                     AND isfinite(it.curr) AND it.curr >= 0.0
                THEN it.curr ELSE 'nan'::DOUBLE END AS mle_lambda
    FROM stats s JOIN iter it ON s.grp = it.grp AND it.i = 1000
"""

# DuckDB oracle for the NB grid search (inference.rs:5-102): the 10,000-step
# λ scan is a flat argmin over a generated series — pure SQL. The objective
# mirrors ratio_formula exactly, including the lgamma small-r branch, the
# (r+2)/2 large-r approximation, and the kernel's best_val=10000.0 initial
# cutoff (p < 10000 filter); ties break toward the smaller grid index (the
# kernel's strict < keeps the first minimum). Groups where the kernel
# returns None — ones = 0, or every grid candidate rejected (r < 0 /
# p ≥ 10000) — surface as NaN via the LEFT JOIN from stats, mirroring the
# Spark side's NaN row. Residual risk (accepted): DuckDB AVG/VAR_POP vs
# numpy two-pass moments can differ by ULPs, so a near-tie between adjacent
# grid points (~7e-4 apart) could in principle flip the argmin at some
# other scale factor; verified exact at sf0.001/sf0.01.
_E4_NB_GRID_DUCK = """
    WITH covs AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS INT) % 6 AS cov
        FROM lineitem
    ),
    stats AS (
        SELECT grp,
               AVG(CAST(cov AS DOUBLE)) AS m,
               VAR_POP(CAST(cov AS DOUBLE)) AS v,
               COUNT(*) FILTER (WHERE cov = 1) AS ones,
               COUNT(*) FILTER (WHERE cov = 2) AS twos
        FROM covs GROUP BY grp
    ),
    grid AS (
        SELECT grp, m, v, ones, twos, g.i,
               GREATEST(0.003, m - 2.0)
                 + (m + 5.0 - GREATEST(0.003, m - 2.0)) / 10000.0 * g.i AS t
        FROM stats, range(0, 10000) g(i)
        WHERE ones > 0
    ),
    objective AS (
        SELECT grp, t, i,
               ABS(CASE WHEN r < 100.0
                        THEN EXP(LGAMMA(r + 2.0) - LGAMMA(r + 1.0)) / 2.0
                             * t / (r + t)
                        ELSE (r + 2.0) / 2.0 * t / (r + t) END
                   - CAST(twos AS DOUBLE) / ones) AS p
        FROM (SELECT *, t / (v - 1.0 + t + m) AS r FROM grid)
        WHERE r >= 0.0
    ),
    best AS (
        SELECT grp, t FROM objective
        WHERE p < 10000.0
        QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY p ASC, i ASC) = 1
    )
    SELECT s.grp AS grp, COALESCE(b.t, 'nan'::DOUBLE) AS nb_lambda
    FROM stats s LEFT JOIN best b USING (grp)
"""

# Spark-side-callable queries that nevertheless HAVE an exact SQL oracle
# (merged into oracle_sql() for the full hash check).
CALLABLE_ORACLES: dict[str, str] = {
    "a2_dedup_gated": _A2_DEDUP_GATED_DUCK,
    "a6_running_thin": _A6_RUNNING_THIN_DUCK,
    "a8_tail_cut": _A8_TAIL_CUT_DUCK,
    "e2_mle_zip": _E2_MLE_ZIP_DUCK,
    "e4_nb_grid": _E4_NB_GRID_DUCK,
    "s2_format_routing": _S2_FORMAT_ROUTING_DUCK,
}


# ---------------------------------------------------------------------------
# Spark-side physical overrides (optimization round 6).
#
# oracle_sql() is FROZEN — these functions change only HOW Spark computes a
# declared query, never WHAT it computes: each reuses the exact same SQL text
# with the scan source swapped for an explicitly repartitioned temp view
# (every sf table is one parquet file with one row group, so the stock plan
# ran ALL pre-shuffle compute — shingle explodes, md5, count-distinct
# expands, partial aggregates — in a single scan task; guide §2.5 "input
# skew: one huge unsplittable file → repartition immediately after the
# read"). dd_ngram_jaccard additionally materializes the filtered shingle
# set once: the inlined-CTE plan recomputed the shingle explode+distinct
# EIGHT times and the document-frequency aggregate FOUR times (plan audit,
# plans/r06/dd_ngram_jaccard_before.txt). Equivalence is oracle-checked at
# sf0.001/sf0.01 (tests/test_entry.py, scripts/check_entry.py).
# ---------------------------------------------------------------------------


def _repart_view(
    spark: SparkSession, table: str, cols: list[str], key, name: str
) -> None:
    """Register `name` = table.select(cols).repartition(par, keys): spreads a
    single-row-group scan across the cluster before CPU-heavy per-row work.
    Hash-keyed (not round-robin) so no sort-before-repartition is paid and
    re-runs are deterministic (guide §2.5). ``key`` is one column name or a
    list of SQL key expressions (e1 keys on its histogram's own group
    expressions so the aggregate is complete after the one exchange)."""
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else key
    par = spark.sparkContext.defaultParallelism
    spark.table(table).select(*cols).repartition(
        par, *[F.expr(k) for k in keys]
    ).createOrReplaceTempView(name)


def _q_j1_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate replacing the double COUNT(DISTINCT): the stock
    plan Expands every lineitem row once per distinct-aggregate before the
    exchange. COUNT(DISTINCT l_partkey) ≡ COUNT(*) over the distinct
    (suppkey, partkey) pairs, and COUNT(DISTINCT CASE WHEN recent THEN
    l_partkey END) ≡ SUM(any-row-recent flag) over the same pairs
    (l_partkey is non-null). Arithmetic keeps the original literal forms so
    decimal typing and 6dp rounding match the frozen oracle text.

    The repartition is keyed by l_suppkey: hash(l_suppkey) co-locates rows
    for BOTH aggregation levels (suppkey is a subset of the (suppkey,
    partkey) group key, and IS the outer key), so the single explicit
    exchange satisfies the whole plan — the earlier l_partkey keying left a
    second ENSURE_REQUIREMENTS exchange of the distinct-pair rows before
    the per-supplier aggregate (plans/r06/j1_containment_{before,after}.txt:
    2 Exchange -> 1)."""
    _register(spark, sf_dir)
    _repart_view(
        spark, "lineitem", ["l_suppkey", "l_partkey", "l_shipdate"],
        "l_suppkey", "_j1_li",
    )
    return spark.sql(
        """
        SELECT l_suppkey AS suppkey,
               COUNT(*) AS total_parts,
               SUM(m) AS contained,
               ROUND(POWER(SUM(m) * 1.0 / COUNT(*), 1.0 / 7.0), 6) AS naive_ani
        FROM (
            SELECT l_suppkey, l_partkey,
                   MAX(CASE WHEN l_shipdate >= DATE '1995-01-01' THEN 1 ELSE 0 END) AS m
            FROM _j1_li GROUP BY l_suppkey, l_partkey
        ) pairs GROUP BY l_suppkey
        """
    )


def _q_j3_winner_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax via MIN_BY instead of ROW_NUMBER: the windowed form pays a
    full sort of the per-(partkey, suppkey) revenue table; the winner row
    ordered by (revenue DESC, suppkey ASC) is exactly
    MIN_BY(suppkey, STRUCT(-revenue, suppkey)) per partkey (lexicographic
    struct min: max revenue first, smaller suppkey on ties — suppkey is
    unique within the group, so the winner is identical). With the scan
    repartitioned by l_partkey both aggregate levels fuse after the single
    exchange and the Sort/Window nodes disappear
    (plans/r06/j3_winner_argmax_after.txt). Oracle text unchanged."""
    _register(spark, sf_dir)
    _repart_view(
        spark, "lineitem",
        ["l_partkey", "l_suppkey", "l_extendedprice", "l_discount"],
        "l_partkey", "_j3_li",
    )
    return spark.sql(
        """
        SELECT partkey,
               MIN_BY(l_suppkey, STRUCT(-rev, l_suppkey)) AS winner_suppkey
        FROM (
            SELECT l_partkey AS partkey, l_suppkey,
                   SUM(l_extendedprice * (1 - l_discount)) AS rev
            FROM _j3_li GROUP BY l_partkey, l_suppkey
        ) r GROUP BY partkey
        """
    )


# e1's hist CTE is referenced twice (modal + the i*+1 join); the inlined plan
# scanned+aggregated lineitem twice, single-task each. Build the (tiny)
# histogram ONCE from a repartitioned scan and pick the modal bin with a
# per-group window MAX instead of a self-join: the earlier tail still
# evaluated the hist view twice (one 600k-row repartition + aggregate per
# branch); MAX(STRUCT(cnt, val)) OVER (PARTITION BY grp) is exactly the
# ROW_NUMBER(ORDER BY cnt DESC, val DESC) = 1 winner (lexicographic struct
# max), and the i*+1 row is the one WHERE val = modal.val + 1 — same rows,
# same decimal typing (identical literal forms), one hist evaluation.
_E1_HIST_SQL = """
    SELECT l_returnflag AS grp, CAST(l_quantity AS INT) AS val, COUNT(*) AS cnt
    FROM _e1_li GROUP BY l_returnflag, CAST(l_quantity AS INT)
"""

_E1_TAIL_SQL = """
    SELECT grp,
           ROUND(cnt * 1.0 / m.cnt * (m.val + 1), 6) AS lambda_est
    FROM (
        SELECT grp, val, cnt,
               MAX(STRUCT(cnt, val)) OVER (PARTITION BY grp) AS m
        FROM _e1_hist
    ) w
    WHERE val = m.val + 1 AND cnt >= 3 AND m.cnt >= 3
"""


def _q_e1_ratio_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    # repartition keyed by the hist GROUP expressions (grp, bin): the one
    # explicit exchange then satisfies the aggregate's clustering (complete
    # agg, no second exchange), and 150 distinct (flag, bin) combos spread
    # far better over the partitions than the ~50 bare quantity values
    _repart_view(
        spark, "lineitem", ["l_returnflag", "l_quantity"],
        ["l_returnflag", "CAST(l_quantity AS INT)"], "_e1_li",
    )
    spark.sql(_E1_HIST_SQL).createOrReplaceTempView("_e1_hist")
    return spark.sql(_E1_TAIL_SQL)


def _q_dd_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    _repart_view(spark, "documents", ["doc_id", "text"], "doc_id", "_dd_docs")
    return spark.sql(
        _minhash_sql(
            _DOCS_SHINGLE_SPARK.replace("FROM documents", "FROM _dd_docs"),
            _hex_int_spark,
        )
    )


def _q_dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    _repart_view(spark, "documents", ["doc_id", "text"], "doc_id", "_dd_docs")
    return spark.sql(
        _simhash_sql(_DOCS_SHINGLE_SPARK.replace("FROM documents", "FROM _dd_docs"))
    )


def _q_dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as _jaccard_sql(_DOCS_SHINGLE_SPARK) (the oracle keeps
    that exact text on the DuckDB side), restructured for Spark around ONE
    shingle-keyed exchange instead of the inlined-CTE plan that recomputed
    the shingle explode+distinct 8× and the df-aggregate 4× and then
    self-joined by shingle. Every arithmetic expression keeps the same SQL
    literal forms so the decimal typing (and thus the 6dp rounding) is
    bit-identical to the original."""
    from pyspark.sql import functions as F

    _register(spark, sf_dir)
    _repart_view(spark, "documents", ["doc_id", "text"], "doc_id", "_dd_docs")
    shingle_sql = _DOCS_SHINGLE_SPARK.replace("FROM documents", "FROM _dd_docs")
    # ONE exchange keyed by shingle replaces the original's distinct +
    # df-aggregate + join + g-keyed self-join: collect_set(doc_id) per g IS
    # the distinct posting list, its size IS the document frequency, and the
    # ordered i<j pairs within the (≤100-element, ascending-sorted) list ARE
    # the self-join's output — generated in-task from the array, no join.
    # doc_id is numeric, so sort_array ascending ⇔ the original a < b.
    # lazy localCheckpoint: posting feeds BOTH sizes (referenced twice by
    # the final joins) and the pair generation — as a plain plan, Catalyst
    # duplicates the whole scan→repartition→explode→md5→collect_set chain
    # into three branches (3 parquet scans, 3 Generate+ObjectHashAggregate
    # chains in the pre-fix plan). The checkpoint gives all three branches
    # ONE shared RDD, computed once and cached at first action; eager=False
    # keeps DataFrame construction free of Spark jobs (plan dumps and
    # build-phase timers see no execution). The cached blocks (one row per
    # rare shingle) live until bench.py's checkpoint release after the
    # dedup run or session stop — nothing persists across bench
    # invocations.
    posting = (
        spark.sql(shingle_sql)
        .groupBy("g")
        .agg(F.collect_set("doc_id").alias("docs"))
        .filter(F.size("docs") <= 100)
        .select(F.sort_array("docs").alias("docs"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        posting.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inter = (
        posting.select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> named_struct('id_a', x, 'id_b', y))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .filter(F.expr("i * 1.0 / (n_a + n_b - i) >= 0.2"))
        .selectExpr(
            "id_a",
            "id_b",
            "CAST(ROUND(i * 1.0 / (n_a + n_b - i), 6) AS DOUBLE) AS jaccard",
        )
    )


# A12 with the grand total from a one-row aggregate: SUM(...) OVER () runs
# as one unpartitioned WindowExec (and logs a WARN for it). Both forms sum
# the per-nation sums, so the types are the same.
_A12_SPARK_SQL = """
    WITH per AS (
        SELECT n_name, SUM(c_acctbal) AS acct
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, ROUND(acct * 100.0 / t.total, 6) AS rel_abund
    FROM per CROSS JOIN (SELECT SUM(acct) AS total FROM per) t
"""


def _q_a12_abundance(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    return spark.sql(_A12_SPARK_SQL)


SPARK_OVERRIDES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a12_abundance": _q_a12_abundance,
    "j1_containment": _q_j1_containment,
    "j3_winner_argmax": _q_j3_winner_argmax,
    "e1_ratio_lambda": _q_e1_ratio_lambda,
    "dd_minhash_sig": _q_dd_minhash_sig,
    "dd_simhash": _q_dd_simhash,
    "dd_ngram_jaccard": _q_dd_ngram_jaccard,
}


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dedup pipeline clusters on the fixture corpus (smoke run at
    sf0.001-ish scale) — SURVEY.md §3 graft lifecycle end-to-end."""
    return _q_dedup_clusters(spark, "/root/testdata/sf0.001")


def _make_sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(sql)

    return fn


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, sql in SHARED_SQL.items():
        out[name] = _make_sql_query(sql)
    for name, (spark_sql, _duck) in DIALECT_SQL.items():
        out[name] = _make_sql_query(spark_sql)
    # physical-plan overrides: same computed result, faster Spark execution
    # (the oracle side of each entry is untouched — see SPARK_OVERRIDES)
    out.update(SPARK_OVERRIDES)
    out.update(SPARK_ONLY)
    return out


def oracle_sql() -> dict[str, str]:
    # the S2 oracle reads a driver-written parquet — make sure it exists
    # regardless of whether the Spark query ran first
    _ensure_s2_oracle_parquet()
    out = dict(SHARED_SQL)
    for name, (_spark, duck) in DIALECT_SQL.items():
        out[name] = duck
    out.update(CALLABLE_ORACLES)
    return out
