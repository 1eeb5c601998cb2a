"""Section C2 — dedup / similarity / multimodal operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dlt_iceberg_spark.queries.registry import _sql_rnd, _t, query, rnd
from dlt_iceberg_spark.queries.textops import _TOKENS_SQL

# ===========================================================================
# C2. Dedup / similarity / multimodal operators (operators/ package)
# ===========================================================================

@query(
    "dedup_token_jaccard",
    """
    WITH d AS (SELECT doc_id, list_distinct(string_split_regex(text, '\\s+')) AS t
               FROM documents WHERE doc_id < 60)
    SELECT a.doc_id AS a, b.doc_id AS b,
           floor(len(list_intersect(a.t, b.t)) /
                 CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.t, b.t)) /
          CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) >= 0.8
    """,
    doc=(
        "Exact token-set Jaccard dedup kernel on a bounded candidate window "
        "(at scale candidates come from MinHash-LSH, not all-pairs — "
        "operators/dedup.py)."
    ),
)
def dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import token_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    out = token_jaccard_pairs(d, "text", "doc_id", threshold=0.8)
    return out.select("a", "b", rnd(F.col("jaccard"), 6).alias("jaccard"))


@query(
    "substring_dup_profile",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
    ),
    w AS (
      SELECT doc_id,
             unnest(generate_series(1, len(toks) - 9)) AS pos,
             toks
      FROM t WHERE len(toks) >= 10
    ),
    ws AS (
      SELECT doc_id, array_to_string(toks[pos:pos+9], ' ') AS win FROM w
    ),
    dup AS (
      SELECT win FROM ws GROUP BY win HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT ws.doc_id,
             count(*) AS n_windows,
             count(dup.win) AS n_dup_windows
      FROM ws LEFT JOIN dup ON ws.win = dup.win
      GROUP BY ws.doc_id
    )
    SELECT t.doc_id,
           coalesce(n_windows, 0) AS n_windows,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           CASE WHEN coalesce(n_windows, 0) > 0
                THEN {_sql_rnd('n_dup_windows / CAST(n_windows AS DOUBLE)', 6)}
                ELSE 0.0 END AS dup_fraction
    FROM t LEFT JOIN per_doc ON t.doc_id = per_doc.doc_id
    """,
    doc=(
        "Exact-substring duplication profile (Lee et al. 2021, arXiv:"
        "2107.06499; operators/dedup.py::substring_dup_stats): a 10-token "
        "window is duplicated when its exact text occurs in >= 2 docs; "
        "distributed as map-side window fingerprints + one hash-keyed "
        "shuffle (the suffix-array pass of the paper is single-machine)."
    ),
)
def substring_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import substring_dup_stats

    d = _t(spark, sf_dir, "documents")
    out = substring_dup_stats(d, "text", "doc_id", window=10)
    return out.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        rnd(F.col("dup_fraction"), 6).alias("dup_fraction"),
    )


@query(
    "dedup_substring_removal",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents
    ),
    w AS (
      SELECT doc_id, unnest(generate_series(1, len(toks) - 9)) AS pos, toks
      FROM t WHERE len(toks) >= 10
    ),
    ws AS (
      SELECT doc_id, pos, array_to_string(toks[pos:pos+9], ' ') AS win FROM w
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY win) AS cnt
      FROM ws
    ),
    rem AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1),
    tok AS (
      SELECT doc_id, unnest(toks) AS tokv,
             unnest(generate_series(1, len(toks))) AS tpos
      FROM t
    ),
    kept AS (
      SELECT doc_id, tpos, tokv FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM rem
        WHERE rem.doc_id = tok.doc_id
          AND tok.tpos >= rem.pos AND tok.tpos <= rem.pos + 9
      )
    ),
    agg AS (
      SELECT doc_id,
             count(*) AS n_kept,
             md5(string_agg(tokv, ' ' ORDER BY tpos)) AS text_hash
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.toks) AS n_tokens,
           len(t.toks) - coalesce(agg.n_kept, 0) AS n_removed_tokens,
           coalesce(agg.text_hash, md5('')) AS text_hash
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    """,
    doc=(
        "Exact-substring REMOVAL — the deduplication pass of Lee et al. "
        "2021 (arXiv:2107.06499 §4), not just the profile: every 10-token "
        "span occurring >= 2 times corpus-wide is cut from all but its "
        "globally first occurrence (min (doc_id, pos)), and surviving "
        "tokens reassemble the text (operators/dedup.py::"
        "remove_duplicate_spans — one window-text shuffle, keeper pick "
        "and occurrence count as window functions over it, HOF token "
        "filtering, zero UDFs).  The oracle replays keeper selection via window "
        "functions and rebuilds the text with ordered string_agg; the "
        "md5 of the reassembled text puts every surviving byte on the "
        "hash path."
    ),
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import remove_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    out = remove_duplicate_spans(d, "text", "doc_id", window=10)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed_tokens",
        F.md5(F.col("text")).alias("text_hash"),
    )


@query(
    "dedup_transitive_clusters",
    r"""
    WITH RECURSIVE d AS (
      SELECT doc_id, list_distinct(string_split_regex(text, '\s+')) AS t
      FROM documents WHERE doc_id < 60
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.t, b.t)) /
            CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) >= 0.8
    ),
    und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
    reach(x, y) AS (
      SELECT x, x FROM (SELECT DISTINCT x FROM und)
      UNION
      SELECT u.x, r.y FROM und u JOIN reach r ON u.y = r.x
    ),
    comp AS (SELECT x AS node, min(y) AS component FROM reach GROUP BY x)
    SELECT doc.doc_id,
           coalesce(c.component, doc.doc_id) AS canonical_id,
           coalesce(c.component, doc.doc_id) <> doc.doc_id AS is_duplicate
    FROM (SELECT doc_id FROM documents WHERE doc_id < 60) doc
    LEFT JOIN comp c ON c.node = doc.doc_id
    """,
    doc=(
        "Full transitive dedup closure: near-dup pairs → connected "
        "components via distributed min-label propagation "
        "(operators/graph.py); oracle computes the same closure with a "
        "recursive CTE."
    ),
)
def dedup_transitive_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import token_jaccard_pairs
    from dlt_iceberg_spark.operators.graph import dedup_clusters

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = token_jaccard_pairs(d, "text", "doc_id", threshold=0.8).select("a", "b")
    return dedup_clusters(d.select("doc_id"), pairs, "doc_id")


@query(
    "dedup_ngram_jaccard",
    """
    WITH d AS (
      SELECT doc_id,
             list_distinct(CASE WHEN length(text) < 3 THEN [text]
                  ELSE [substr(text, i, 3)
                        for i in generate_series(1, length(text) - 2)] END) AS g
      FROM documents WHERE doc_id < 60
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           floor(len(list_intersect(a.g, b.g)) /
                 CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.g, b.g)) /
          CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.6
    """,
    doc=(
        "Character-trigram Jaccard near-dup pairs (operators/dedup.py::"
        "char_ngram_jaccard_pairs): tokenization-free similarity, robust to "
        "punctuation/whitespace edits — bounded candidate window; at scale "
        "candidates come from MinHash banding over the same n-gram sets."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import char_ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    out = char_ngram_jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.6)
    return out.select("a", "b", rnd(F.col("jaccard"), 6).alias("jaccard"))


@query(
    "dedup_minhash_lsh",
    """
    WITH d AS (SELECT doc_id, list_distinct(string_split_regex(text, '\\s+')) AS t
               FROM documents)
    SELECT a.doc_id AS a, b.doc_id AS b,
           floor(len(list_intersect(a.t, b.t)) /
                 CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.t, b.t)) /
          CAST(len(list_distinct(list_concat(a.t, b.t))) AS DOUBLE) >= 0.8
    """,
    doc=(
        "Near-dup pairs over the FULL documents table by exact token-set "
        "Jaccard, strategy chosen from corpus stats (operators/dedup.py::"
        "token_set_similarity_join): vocabularies ≤ 64 tokens use exact "
        "bitmask classes (bit_count Jaccard, deterministic at EVERY scale); "
        "general vocabularies use MinHash(64)+LSH(32 bands) candidates over "
        "token-set equivalence classes verified by exact Jaccard (miss "
        "p ≤ (1-0.8²)^32 ≈ 4e-15 per pair).  The oracle is brute-force "
        "all-pairs Jaccard; a recall regression fails the gate as missing "
        "rows."
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import token_set_similarity_join

    d = _t(spark, sf_dir, "documents")
    # token-SET similarity — the same unit the verification (and oracle)
    # Jaccard is defined over.  The fixture corpus draws from a ~31-token
    # vocabulary, which makes near-dup density quadratic (most pairs are
    # similar) — LSH cannot prune there, so the adaptive operator's bitmask
    # path is the only strategy that is both exact and near-linear-cost.
    out = token_set_similarity_join(d, "text", "doc_id", threshold=0.8)
    return out.select("a", "b", rnd(F.col("jaccard"), 6).alias("jaccard"))


def _dedup_incremental_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.table import LakeTable
    from dlt_iceberg_spark.operators.dedup import write_dedup_index

    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 != 0)
    itable = LakeTable(spark, os.path.join(root, "idx"))
    write_dedup_index(itable, corpus, "text", "doc_id")
    return itable


@query(
    "dedup_incremental",
    """
    WITH t AS (SELECT doc_id, list_distinct(string_split_regex(text, '\\s+')) AS t
               FROM documents),
         c AS (SELECT * FROM t WHERE doc_id % 5 <> 0),
         b AS (SELECT * FROM t WHERE doc_id % 5 = 0)
    SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id,
           floor(len(list_intersect(c.t, b.t)) /
                 CAST(len(list_distinct(list_concat(c.t, b.t))) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS jaccard
    FROM c JOIN b ON len(list_intersect(c.t, b.t)) /
                     CAST(len(list_distinct(list_concat(c.t, b.t))) AS DOUBLE) >= 0.8
    """,
    doc=(
        "Incremental ingestion dedup: a NEW load (doc_id % 5 = 0) probed "
        "against the EXISTING corpus's persisted class/signature index "
        "(operators/dedup.py::build_dedup_index + batch_vs_corpus_dedup). "
        "Batch side broadcasts, corpus index is scanned map-side — zero "
        "corpus shuffle per load.  Oracle is brute-force cross-side exact "
        "Jaccard; a banding recall regression fails as missing rows."
    ),
    setup=_dedup_incremental_setup,
)
def dedup_incremental(spark: SparkSession, sf_dir: str, itable) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import batch_vs_corpus_dedup

    batch = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    # the index is a PERSISTED LakeTable, the shape a production pipeline
    # runs (operators/dedup.py::write_dedup_index — built once per corpus,
    # appended per load via append_novel_classes, probed per batch), built
    # by the registry setup like the other lake gate queries; 'auto' probes the
    # vocabulary and picks the exact bitmask path here (fixture vocab ≤ 64
    # tokens — banding would propose ~every class pair anyway, the
    # statistic token_set_similarity_join adapts on) and LSH banding on
    # real vocabularies.
    out = batch_vs_corpus_dedup(
        batch, itable.read(), "text", "doc_id", threshold=0.8, strategy="auto"
    )
    return out.select(
        "corpus_id", "batch_id", rnd(F.col("jaccard"), 6).alias("jaccard")
    )


#: shared oracle CTE: per-doc SimHash over 60-bit md5-prefix token hashes —
#: bit b of the hash is set iff more than half the doc's tokens have bit b
#: set; reproduces operators/dedup.py::simhash(hash_mode='md5') exactly.
_SIMHASH_ORACLE_CTE = r"""
    tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
            FROM documents),
    th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    bits AS (
      SELECT doc_id, g.b AS b,
             sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE 0 END) AS cnt,
             count(*) AS n
      FROM th, (SELECT unnest(generate_series(0, 59)) AS b) g
      GROUP BY doc_id, g.b
    ),
    sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN 2 * cnt > n THEN (1::BIGINT << b) ELSE 0::BIGINT END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash",
    f"WITH {_SIMHASH_ORACLE_CTE} SELECT doc_id, simhash FROM sh",
    doc=(
        "64-bit SimHash per document (explode → lane-packed bit-sums → sign "
        "reassembly).  Registered in hash_mode='md5' (60-bit md5-prefix token "
        "hashes) so DuckDB replays the signature bit-exactly; production "
        "default is xxhash64 (same plan, one hash call per token)."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), "text", "doc_id", hash_mode="md5")


_LANG_SCORE_SQL = """
        SELECT doc_id, score, lang FROM (
            SELECT doc_id,
                   len(list_intersect(toks, {words})) / {n}.0 AS score,
                   '{lang}' AS lang
            FROM toksrc)
"""


def _lang_oracle() -> str:
    from dlt_iceberg_spark.operators.text import LANG_MARKERS

    parts = []
    for lang, words in sorted(LANG_MARKERS.items()):
        wl = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        parts.append(
            _LANG_SCORE_SQL.format(words=wl, n=len(words), lang=lang)
        )
    union = " UNION ALL ".join(parts)
    return f"""
    WITH toksrc AS (
        SELECT doc_id, list_distinct(string_split_regex(text, '\\s+')) AS toks
        FROM documents
    ), scores AS ({union})
    SELECT doc_id,
           CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
           floor(score * 1000000.0 + 0.5) / 1000000.0 AS lang_score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
          FROM scores)
    WHERE rn = 1
    """


@query(
    "dedup_simhash_pairs",
    f"""
    WITH {_SIMHASH_ORACLE_CTE}
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc=(
        "SimHash near-dup pairs via pigeonhole chunk banding: pairs within "
        "Hamming<=3 must share one of 4 exact 16-bit chunks; only candidates "
        "pay bit_count(xor) (operators/dedup.py::simhash_near_dup_pairs).  "
        "Pigeonhole candidates are EXACT (no recall loss), so the brute-force "
        "all-pairs oracle must match bit-for-bit; md5 hash mode makes the "
        "signatures DuckDB-reproducible."
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.dedup import simhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    out = simhash_near_dup_pairs(d, "text", "doc_id", max_hamming=3, hash_mode="md5")
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


@query(
    "text_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_tokens_bpe,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc=(
        "Token counting: whitespace tokens + BPE-ish subword proxy (alnum "
        "runs and punctuation as separate tokens) + char count "
        "(operators/text.py::token_stats)."
    ),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import token_stats

    d = _t(spark, sf_dir, "documents")
    return token_stats(d).select("doc_id", "n_tokens_ws", "n_tokens_bpe", "n_chars")


@query(
    "text_language_id",
    _lang_oracle(),
    doc=(
        "Stopword-vote language ID (operators/text.py): marker-token hit rate "
        "per language, deterministic argmax — pure expression plan, no UDF."
    ),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import language_id

    d = _t(spark, sf_dir, "documents")
    out = language_id(d, "text")
    return out.select("doc_id", "lang_pred", rnd(F.col("lang_score"), 6).alias("lang_score"))


@query(
    "text_repetition",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
    topc AS (SELECT doc_id, max(c) AS top FROM
             (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
    big AS (SELECT doc_id, toks,
                   CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                        ELSE [toks[i] || chr(31) || toks[i + 1]
                              for i in generate_series(1, len(toks) - 1)]
                   END AS bg
            FROM t)
    SELECT b.doc_id,
           floor(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS distinct_token_ratio,
           floor(topc.top / CAST(len(toks) AS DOUBLE) * 1000000.0 + 0.5)
             / 1000000.0 AS top_token_ratio,
           floor((CASE WHEN len(bg) < 1 THEN 0.0
                       ELSE 1.0 - len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE) END)
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_bigram_ratio
    FROM big b JOIN topc USING (doc_id)
    """,
    doc=(
        "Gopher-style repetition quality features (operators/text.py::"
        "repetition_stats): distinct-token ratio, top-token frequency ratio "
        "(longest equal-neighbor run over the sorted token array — one "
        "O(n log n) pass, no per-row quadratic aggregate), duplicate-bigram "
        "ratio.  Pure map-side expressions; the strongest single signal for "
        "filtering boilerplate/SEO spam from a pre-training corpus."
    ),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import repetition_stats

    d = _t(spark, sf_dir, "documents")
    out = repetition_stats(d)
    return out.select(
        "doc_id",
        rnd(F.col("distinct_token_ratio"), 6).alias("distinct_token_ratio"),
        rnd(F.col("top_token_ratio"), 6).alias("top_token_ratio"),
        rnd(F.col("dup_bigram_ratio"), 6).alias("dup_bigram_ratio"),
    )


@query(
    "text_gopher_rules",
    rf"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
             list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
             list_filter(string_split_regex(text, chr(10) || chr(10)), x -> x <> '') AS ps
      FROM documents
    ),
    gl AS (
      SELECT doc_id, n,
             unnest(CASE WHEN len(t) >= n
                    THEN [array_to_string(t[i : i + n - 1], ' ')
                          for i in generate_series(1, len(t) - n + 1)]
                    ELSE []::VARCHAR[] END) AS gram
      FROM base, range(2, 11) ns(n)
    ),
    gc AS (SELECT doc_id, n, gram, count(*) AS c, length(gram) AS glen
           FROM gl GROUP BY ALL),
    gs AS (SELECT doc_id, n, max(c * glen) AS topc,
                  sum(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) AS dupc
           FROM gc GROUP BY 1, 2),
    gp AS (SELECT doc_id,
                  {", ".join(f"coalesce(max(CASE WHEN n = {n} THEN topc END), 0) AS top{n}" for n in (2, 3, 4))},
                  {", ".join(f"coalesce(max(CASE WHEN n = {n} THEN dupc END), 0) AS dup{n}" for n in (5, 6, 7, 8, 9, 10))}
           FROM gs GROUP BY 1),
    feat AS (
      SELECT b.doc_id,
             len(t) AS nw,
             greatest(length(text), 1) AS tc,
             coalesce(list_sum(list_transform(t, x -> length(x))), 0)
               / greatest(len(t), 1) AS mwl,
             ((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) / 3
              + (length(text) - length(replace(text, '…', ''))))
               / greatest(len(t), 1) AS swr,
             len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))
               / greatest(len(ls), 1) AS blf,
             len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
               / greatest(len(ls), 1) AS elf,
             len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
               / greatest(len(t), 1) AS awf,
             len(list_intersect(list_distinct(t),
                 ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS rsc,
             1.0 - len(list_distinct(ls)) / greatest(len(ls), 1) AS dlf,
             1.0 - len(list_distinct(ps)) / greatest(len(ps), 1) AS dpf,
             coalesce(list_sum(list_transform(ls, x ->
               CASE WHEN len(list_filter(ls, y -> y = x)) >= 2 THEN length(x) ELSE 0 END)), 0)
               / (greatest(length(text), 1)) AS dlcf,
             coalesce(list_sum(list_transform(ps, x ->
               CASE WHEN len(list_filter(ps, y -> y = x)) >= 2 THEN length(x) ELSE 0 END)), 0)
               / (greatest(length(text), 1)) AS dpcf,
             coalesce(gp.top2, 0) / greatest(length(text), 1) AS t2,
             coalesce(gp.top3, 0) / greatest(length(text), 1) AS t3,
             coalesce(gp.top4, 0) / greatest(length(text), 1) AS t4,
             coalesce(gp.dup5, 0) / greatest(length(text), 1) AS d5,
             coalesce(gp.dup6, 0) / greatest(length(text), 1) AS d6,
             coalesce(gp.dup7, 0) / greatest(length(text), 1) AS d7,
             coalesce(gp.dup8, 0) / greatest(length(text), 1) AS d8,
             coalesce(gp.dup9, 0) / greatest(length(text), 1) AS d9,
             coalesce(gp.dup10, 0) / greatest(length(text), 1) AS d10
      -- LEFT: a doc with <2 whitespace tokens yields no n-gram rows for
      -- any n and has no gp row; the operator still emits it with zeroed
      -- fractions, so the oracle must too.
      FROM base b LEFT JOIN gp USING (doc_id)
    )
    SELECT doc_id,
           nw AS n_words,
           {_sql_rnd('mwl', 6)} AS mean_word_len,
           {_sql_rnd('swr', 6)} AS symbol_word_ratio,
           {_sql_rnd('awf', 6)} AS alpha_word_frac,
           rsc AS req_stopword_count,
           {_sql_rnd('dlf', 6)} AS dup_line_frac,
           {_sql_rnd('elf', 6)} AS ellipsis_line_frac,
           {_sql_rnd('t2', 6)} AS top_2gram_char_frac,
           {_sql_rnd('t3', 6)} AS top_3gram_char_frac,
           {_sql_rnd('t4', 6)} AS top_4gram_char_frac,
           {_sql_rnd('d5', 6)} AS dup_5gram_char_frac,
           {_sql_rnd('d10', 6)} AS dup_10gram_char_frac,
           (nw BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
            AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3 AND awf >= 0.8
            AND rsc >= 2 AND dlf <= 0.30 AND dpf <= 0.30
            AND dlcf <= 0.20 AND dpcf <= 0.20
            AND t2 <= 0.20 AND t3 <= 0.18 AND t4 <= 0.16
            AND d5 <= 0.15 AND d6 <= 0.14 AND d7 <= 0.13
            AND d8 <= 0.12 AND d9 <= 0.11 AND d10 <= 0.10) AS gopher_keep
    FROM feat
    """,
    doc=(
        "The COMPLETE Gopher/MassiveText quality-rule matrix (Rae et al. "
        "2021 A1.1; operators/text.py::gopher_rules): word-count and mean-"
        "word-length bands, symbol/bullet/ellipsis ratios, alphabetic-word "
        "fraction, required-stopword presence, duplicate line/paragraph "
        "count+character fractions, top-{{2,3,4}}-gram and duplicate-"
        "{{5..10}}-gram character fractions, and the conjunction keep flag. "
        "Pure map-side expressions (zero shuffles, zero UDFs); the oracle "
        "replays every formula via unnest+group n-gram counting — exact "
        "integer arithmetic end to end."
    ),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import gopher_rules

    out = gopher_rules(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        rnd(F.col("mean_word_len"), 6).alias("mean_word_len"),
        rnd(F.col("symbol_word_ratio"), 6).alias("symbol_word_ratio"),
        rnd(F.col("alpha_word_frac"), 6).alias("alpha_word_frac"),
        F.col("req_stopword_count").cast("long").alias("req_stopword_count"),
        rnd(F.col("dup_line_frac"), 6).alias("dup_line_frac"),
        rnd(F.col("ellipsis_line_frac"), 6).alias("ellipsis_line_frac"),
        rnd(F.col("top_2gram_char_frac"), 6).alias("top_2gram_char_frac"),
        rnd(F.col("top_3gram_char_frac"), 6).alias("top_3gram_char_frac"),
        rnd(F.col("top_4gram_char_frac"), 6).alias("top_4gram_char_frac"),
        rnd(F.col("dup_5gram_char_frac"), 6).alias("dup_5gram_char_frac"),
        rnd(F.col("dup_10gram_char_frac"), 6).alias("dup_10gram_char_frac"),
        "gopher_keep",
    )


@query(
    "text_c4_rules",
    r"""
    WITH d AS (
      SELECT doc_id, replace(text, ' line ', '.' || chr(10)) AS t2 FROM documents
    ),
    f AS (
      SELECT doc_id, t2,
             string_split(t2, chr(10)) AS ls,
             list_filter(string_split(t2, chr(10)), l ->
               right(rtrim(l), 1) IN ('.', '!', '?', '"')
               AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM d
    )
    SELECT doc_id,
           len(list_filter(ls, l -> l <> '')) AS n_lines_total,
           len(kept) AS n_lines_kept,
           coalesce(length(array_to_string(kept, chr(10))), 0) AS cleaned_len,
           (len(kept) >= 3 AND NOT contains(t2, '{') AND NOT contains(t2, '}')
            AND NOT contains(lower(t2), 'lorem ipsum')) AS c4_keep
    FROM f
    """,
    doc=(
        "C4's line- and page-level cleaning rules (Raffel et al. 2020 "
        "§2.2; operators/text.py::c4_rules) over a deterministically "
        "multi-lined view of the corpus (every ' line ' token becomes a "
        "sentence boundary — the fixture text is single-line): terminal-"
        "punctuation / ≥5-word / javascript line retention, curly-brace / "
        "lorem-ipsum / three-line page rules, and the cleaned re-joined "
        "text's length.  Zero shuffles; the oracle replays every rule."
    ),
)
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import c4_rules

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr("replace(text, ' line ', concat('.', chr(10)))").alias("text")
    )
    out = c4_rules(d)
    return out.select(
        "doc_id",
        "n_lines_total",
        "n_lines_kept",
        F.length("cleaned_text").cast("long").alias("cleaned_len"),
        "c4_keep",
    )


@query(
    "text_bpe_pairs",
    """
    WITH words AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents
    ), wc AS (
      SELECT word, count(*) AS cnt FROM words WHERE word <> '' GROUP BY word
    ), syms AS (
      SELECT cnt, list_append(regexp_extract_all(word, '.'), '</w>') AS s
      FROM wc
    ), pairs AS (
      SELECT s[i] AS left_sym, s[i + 1] AS right_sym, cnt
      FROM syms, LATERAL (
        SELECT unnest(generate_series(1, len(s) - 1)) AS i
      ) t
    )
    SELECT left_sym, right_sym, CAST(SUM(cnt) AS BIGINT) AS freq
    FROM pairs GROUP BY 1, 2
    ORDER BY freq DESC, left_sym, right_sym
    LIMIT 30
    """,
    doc=(
        "BPE vocabulary induction, iteration zero (operators/bpe.py — "
        "Sennrich 2016): the corpus collapses to its distinct-word "
        "frequency table in ONE shuffle, then adjacent character-pair "
        "frequencies (with the </w> end-of-word sentinel) come from a "
        "map-side zip_with explode over |vocab| rows — the exact argmax "
        "relation every merge iteration consumes.  Training (train_bpe) "
        "iterates this plus a JVM-side fold per merge on the SAME compact "
        "table, pytest-verified merge-for-merge against a pure-Python "
        "reference; corpus size only ever affects the first aggregation."
    ),
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.bpe import pair_counts, word_symbol_counts

    d = _t(spark, sf_dir, "documents")
    return (
        pair_counts(word_symbol_counts(d, "text"))
        .select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy(F.desc("freq"), F.asc("left_sym"), F.asc("right_sym"))
        .limit(30)
    )


@query(
    "text_tfidf_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
           GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * (ln((n.n_docs + 1.0) / (dfq.doc_freq + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, {_sql_rnd('tfidf', 6)} AS tfidf, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
    doc=(
        "Per-document top-3 TF-IDF keywords (operators/features.py::"
        "tfidf_top_terms): smoothed IDF from a vocabulary-keyed aggregate, "
        "broadcast back onto (doc, term) counts, per-doc window top-k.  The "
        "model table is vocab-sized, never corpus-sized."
    ),
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.features import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(d, k=3)
    return out.select(
        "doc_id",
        "term",
        "tf",
        rnd(F.col("tfidf"), 6).alias("tfidf"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "text_nb_language",
    f"""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split_regex(text, '\\s+')) AS term
                 FROM documents),
    tok2 AS (SELECT * FROM tok WHERE term <> ''),
    counts AS (SELECT lang AS label, term, count(*) AS c FROM tok2 GROUP BY 1, 2),
    tw AS (SELECT term, label, ln(c + 1.0) AS w FROM counts),
    vocab AS (SELECT count(DISTINCT term) AS v FROM counts),
    ctot AS (SELECT label, sum(c) AS cy FROM counts GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    priors AS (SELECT lang AS label, count(DISTINCT doc_id) AS n_y
               FROM documents GROUP BY 1),
    cc AS (SELECT ctot.label, ln(priors.n_y * 1.0 / n.n) AS ln_prior,
                  ln(ctot.cy + vocab.v) AS ln_denom
           FROM ctot JOIN priors USING (label) CROSS JOIN vocab CROSS JOIN n),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
    ev AS (SELECT tf.doc_id, tw.label, sum(tf.tf * tw.w) AS ev
           FROM tf JOIN tw USING (term) GROUP BY 1, 2),
    m AS (SELECT doc_id, sum(tf) AS m FROM tf GROUP BY 1),
    grid AS (SELECT m.doc_id, cc.label,
                    cc.ln_prior - m.m * cc.ln_denom + coalesce(ev.ev, 0.0) AS score
             FROM m CROSS JOIN cc
             LEFT JOIN ev ON ev.doc_id = m.doc_id AND ev.label = cc.label),
    pick AS (SELECT doc_id, label AS predicted, score,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, label) AS rn
             FROM grid)
    SELECT p.doc_id, p.predicted, d.lang AS actual,
           CAST(p.predicted = d.lang AS INT) AS match,
           {_sql_rnd('p.score', 3)} AS score
    FROM pick p JOIN documents d USING (doc_id) WHERE rn = 1
    """,
    doc=(
        "fastText-style bag-of-words language classifier, trained and "
        "scored in-plan (operators/features.py::nb_train/nb_score): "
        "multinomial Naive Bayes with add-one smoothing — training is a "
        "closed-form groupBy, the model is a sparse vocab-sized broadcast, "
        "and unseen (term, class) pairs vanish under the smoothing "
        "identity so scoring is an INNER join.  Zero UDFs."
    ),
)
def text_nb_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.features import nb_classify

    d = _t(spark, sf_dir, "documents")
    out = nb_classify(d, label_col="lang")
    return out.select(
        "doc_id", "predicted", "actual", "match", rnd(F.col("score"), 3).alias("score")
    )


@query(
    "knn_label_vote",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id % 20 = 0),
    c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS ce
          FROM embeddings WHERE vec_id % 20 <> 0),
    scored AS (SELECT query_id, neighbor_id, label,
                      list_cosine_similarity(qe, ce) AS cs
               FROM q CROSS JOIN c),
    topk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, neighbor_id) AS rn
                            FROM scored)
             WHERE rn <= 5),
    votes AS (SELECT query_id, label, count(*) AS votes, max(cs) AS best
              FROM topk GROUP BY 1, 2)
    SELECT query_id, label AS predicted, votes, {_sql_rnd('best', 6)} AS best_cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY votes DESC, best DESC, label) AS rn2
          FROM votes)
    WHERE rn2 = 1
    """,
    doc=(
        "k-NN label propagation over the embedding corpus (operators/"
        "similarity.py::knn_classify): every 20th vector is 'unlabeled', "
        "tagged with the majority label of its 5 nearest labeled "
        "neighbors.  Broadcast queries × corpus scan (IVF past ~10M), "
        "vote aggregate keyed on (query, label)."
    ),
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.similarity import knn_classify

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    c = e.filter(F.col("vec_id") % 20 != 0)
    out = knn_classify(q, c, k=5)
    return out.select(
        "query_id", "predicted", "votes", rnd(F.col("best_cosine"), 6).alias("best_cosine")
    )


@query(
    "dedup_boilerplate_lines",
    r"""
    WITH base AS (SELECT doc_id, string_split(replace(text, ' line ', '.' || chr(10)),
                                              chr(10)) AS lines
                  FROM documents),
    x AS (SELECT doc_id, lines,
                 CAST(unnest(generate_series(1, len(lines))) AS INT) AS pos
          FROM base),
    xl AS (SELECT doc_id, pos, lines[pos] AS line FROM x),
    freq AS (SELECT line, 1 AS dupm
             FROM (SELECT line, count(DISTINCT doc_id) AS nd FROM xl GROUP BY 1)
             WHERE nd >= 2),
    tag AS (SELECT xl.doc_id, xl.pos, xl.line, freq.dupm
            FROM xl LEFT JOIN freq USING (line))
    SELECT doc_id,
           md5(coalesce(string_agg(CASE WHEN dupm IS NULL THEN line END,
                                   chr(10) ORDER BY pos), '')) AS text_md5,
           CAST(count(CASE WHEN dupm IS NULL THEN 1 END) AS BIGINT) AS n_kept,
           CAST(count(dupm) AS BIGINT) AS n_removed
    FROM tag GROUP BY doc_id
    """,
    doc=(
        "RefinedWeb/CCNet boilerplate removal (operators/text.py::"
        "dedup_lines): lines occurring in >=2 distinct documents are "
        "dropped corpus-wide and documents reassembled from surviving "
        "lines in order (same multi-lined view as text_c4_rules).  "
        "Two-stage doc-frequency aggregate so hot boilerplate lines "
        "partial-aggregate map-side; reassembly via array_sort, no window."
    ),
)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import dedup_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr("replace(text, ' line ', concat('.', chr(10)))").alias("text")
    )
    out = dedup_lines(d, min_docs=2)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_kept", "n_removed"
    )


@query(
    "multimodal_meta",
    """
    SELECT doc_id, sha256(text) AS payload_sha,
           CAST(length(text) AS BIGINT) AS payload_bytes
    FROM documents
    """,
    doc=(
        "Multimodal column plumbing: binary payloads tagged with typed metadata "
        "+ content digest (dedup key that never re-shuffles the payload). "
        "Payload here is the doc text encoded as bytes (no real media in the fixture)."
    ),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.multimodal import attach_media_metadata

    d = _t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    tagged = attach_media_metadata(d, "payload", "image", "application/octet-stream")
    return tagged.select("doc_id", "payload_sha", "payload_bytes")


@query(
    "multimodal_decode",
    """
    WITH s AS (SELECT doc_id, sha256(text) AS sha FROM documents)
    SELECT doc_id, sha AS payload_sha, 16 AS feature_dim,
           CAST(list_sum([('0x' || substr(sha, 2 * i + 1, 2))::BIGINT
                          for i in generate_series(0, 15)]) AS BIGINT)
             AS feature_sum_x255
    FROM s
    """,
    doc=(
        "Image-decode plumbing via Arrow-batched mapInPandas (deterministic "
        "stand-in decoder; real codec stubbed — operators/multimodal.py). "
        "Payload bytes never cross a shuffle; only the 16-dim features do.  "
        "The fake decode derives features from the sha256 digest "
        "(digest[i]/255), so the oracle recomputes the digest bytes in SQL; "
        "feature_sum_x255 rescales the float32 sum back to the exact integer "
        "byte total, removing float-precision ambiguity from the compare."
    ),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.multimodal import decode_image_features

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .select("doc_id", "payload")
    )
    feats = decode_image_features(d, fake=True)
    return feats.select(
        "doc_id",
        "payload_sha",
        F.size("feature").alias("feature_dim"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, v: a + v) * 255.0, 0
        ).cast("long").alias("feature_sum_x255"),
    )


@query(
    "multimodal_frames",
    """
    WITH d AS (SELECT doc_id, text,
                      octet_length(CAST(text AS BLOB)) AS nbytes
               FROM documents),
         f AS (SELECT doc_id, substr(text, 1, 32) AS frame_preview,
                      unnest(generate_series(
                        0,
                        least(greatest(CAST(floor(nbytes / 256.0) AS INT) - 1, 0), 7)
                      )) AS frame_idx
               FROM d)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * 256 AS BIGINT) AS byte_offset, frame_preview
    FROM f
    """,
    doc=(
        "Video-frame-sampling plumbing (operators/multimodal.py::"
        "sample_frames): payloads explode into byte-offset frame slices "
        "map-side — payload bytes never cross a shuffle, document-length "
        "skew becomes row count.  The stand-in keyframe arithmetic is "
        "deterministic, so the oracle replays offsets/previews exactly in "
        "SQL (real codecs stay stubbed; the Spark-side schema, explode "
        "shape, and batch plumbing are what this verifies)."
    ),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.multimodal import sample_frames

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .select("doc_id", "payload")
    )
    out = sample_frames(d, "doc_id", "payload", every_n_bytes=256, max_frames=8)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
        "frame_preview",
    )


@query(
    "multimodal_audio_windows",
    """
    WITH d AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n FROM documents),
         w AS (SELECT doc_id, n,
                      unnest(generate_series(
                        0,
                        least(greatest(CAST(floor((n - 128) / 64.0) AS BIGINT) + 1, 1), 12) - 1
                      )) AS i
               FROM d)
    SELECT doc_id, CAST(i AS BIGINT) AS window_idx,
           CAST(i * 64 AS BIGINT) AS start_byte,
           CAST(least(128, n - i * 64) AS BIGINT) AS window_len
    FROM w
    """,
    doc=(
        "Audio STFT-framing plumbing (operators/multimodal.py::"
        "audio_windows): overlapping (window=128, hop=64) byte segments "
        "explode map-side with a hard per-row cap — payload bytes never "
        "shuffle, downstream per-window feature UDFs fan out as rows.  "
        "Deterministic framing arithmetic replayed exactly by the SQL "
        "oracle (codecs stay stubbed; this verifies the Spark-side "
        "segmentation, schema, and cap semantics)."
    ),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.multimodal import audio_windows

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .select("doc_id", "payload")
    )
    return audio_windows(
        d, "doc_id", "payload", window_bytes=128, hop_bytes=64, max_windows=12
    )


@query(
    "multimodal_resize",
    """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         r AS (SELECT doc_id, n,
                      list_reduce(
                        list_transform(generate_series(0, 63),
                                       i -> substr(text, CAST(i * n // 64 AS INT) + 1, 1)),
                        (a, x) -> a || x
                      ) AS rs
               FROM d)
    SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(n AS BIGINT) AS orig_bytes, md5(rs) AS resized_md5
    FROM r
    """,
    doc=(
        "Image-resize plumbing (operators/multimodal.py::resize_images): "
        "Arrow-batched mapInPandas, payload bytes never shuffle, one row "
        "per image with the target geometry.  Real codecs stay stubbed; "
        "the deterministic byte-striding stand-in is replayed bit-exactly "
        "by the SQL oracle (this DuckDB build lacks BLOB substr/md5, but "
        "the fixture is pure ASCII — asserted 0 multi-byte docs — so "
        "character striding over the text IS the byte striding), making "
        "the batch plumbing, schema, and row accounting hash-verified."
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.multimodal import resize_images

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .select("doc_id", "payload")
    )
    out = resize_images(d, 8, 8, fake=True)
    return out.select(
        "doc_id",
        "width",
        "height",
        "orig_bytes",
        F.md5("resized").alias("resized_md5"),
    )


@query(
    "embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS a, b.vec_id AS b,
           floor(list_cosine_similarity(a.v, b.v) * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
    doc=(
        "Embedding-cosine near-dup pairs via the exact DISTRIBUTED kernel: "
        "block-matrix self-join + per-block-pair BLAS inside mapInPandas — "
        "no driver collect, O(block²) executor memory "
        "(operators/similarity.py::all_pairs_cosine_blocked).  The broadcast "
        "BLAS kernel remains for sub-broadcast corpora (now row-budget "
        "guarded); the sub-quadratic approximate path is "
        "embedding_near_duplicates (LSH) / ann_ivf."
    ),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.similarity import all_pairs_cosine_blocked

    e = _t(spark, sf_dir, "embeddings")
    pairs = all_pairs_cosine_blocked(
        e, "embedding", "vec_id", threshold=0.4, block_rows=256
    )
    return pairs.select("a", "b", rnd(F.col("cosine"), 6).alias("cosine"))


@query(
    "semantic_dedup",
    # Gate trick (the ann_ivf/ann_pq treatment): Lloyd-trained k-means
    # centroids are not SQL-replayable, but semantic_dedup is
    # centroid-agnostic — so the gate query injects DETERMINISTIC centroids
    # (the 8 corpus rows with the smallest md5(vec_id), unit-normalized)
    # and the oracle re-derives the same set, replays nearest-centroid
    # assignment (argmax cosine, lowest index on ties — matching numpy's
    # stable argsort) and the within-cluster min-id star rule in plain SQL.
    # That hash-verifies assignment + per-cluster dedup + canonical rule
    # end-to-end; the TRAINED path keeps its soundness/completeness
    # contract in pytest (test_semantic_dedup_sound_and_cluster_complete),
    # and the oversized-cluster block-pair path is equivalence-pinned by
    # test_semantic_dedup_cluster_cap_matches_uncapped.
    """
    WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cent AS (
           SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS c, v AS cv
           FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v FROM raw
                 ORDER BY h, vec_id LIMIT 8)
         ),
         assign AS (
           SELECT vec_id, v, c AS cluster
           FROM (SELECT r.vec_id, r.v, cent.c,
                        row_number() OVER (
                          PARTITION BY r.vec_id
                          ORDER BY list_cosine_similarity(r.v, cent.cv) DESC, cent.c
                        ) AS rn
                 FROM raw r CROSS JOIN cent)
           WHERE rn = 1
         ),
         cands AS (
           SELECT a.vec_id AS id, min(b.vec_id) AS cand
           FROM assign a JOIN assign b
             ON a.cluster = b.cluster AND b.vec_id < a.vec_id
            AND list_cosine_similarity(a.v, b.v) >= 0.4
           GROUP BY 1
         )
    SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster,
           coalesce(c.cand, s.vec_id) AS canonical_id,
           c.cand IS NOT NULL AS is_duplicate
    FROM assign s LEFT JOIN cands c ON s.vec_id = c.id
    """,
    doc=(
        "SemDeDup (Abbas et al. 2023): k-means clusters over the embedding "
        "space, near-dup search only within clusters (operators/similarity"
        ".py::semantic_dedup) — the near-linear embedding-dedup layout for "
        "web-scale corpora; per-cluster blocked matmul, min-id canonicals, "
        "hash-blocked pair scoring for clusters past max_cluster_rows.  "
        "Gate variant injects hash-deterministic centroids so the full "
        "output is oracle-replayable; the trained path is pytest-pinned."
    ),
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.similarity import fixed_centroids, semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    cents = fixed_centroids(e, "embedding", "vec_id", n_centroids=8)
    return semantic_dedup(e, "embedding", "vec_id", threshold=0.4, centroids=cents)


@query(
    "ann_ivf",
    # Gate trick: with nprobe == n_centroids (probe EVERY inverted list) IVF
    # is exact by construction — every corpus row lands in exactly one list
    # and every list is scored with the same JVM cosine fold as brute force —
    # so the entire machinery (k-means training, list assignment, probe
    # explode, per-list scoring, ranking) is hash-verified against the
    # brute-force SQL below.  The *approximate* contract (nprobe < n_lists)
    # cannot be SQL-replayed (Lloyd-trained centroids); pytest pins it via
    # recall@k vs exact top-k (tests/test_operators.py).
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "IVF nearest neighbor: KMeans(seed=42) centroids partition the corpus "
        "into inverted lists; gate query probes ALL lists (exact ⇒ "
        "oracle-checkable); production nprobe<n_lists path recall-pinned in "
        "pytest (operators/similarity.py::ivf_topk)."
    ),
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk(q, e, k=5, n_centroids=16, nprobe=16)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_ivf_persisted_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    second = e.filter(F.col("vec_id") % 2 == 1)
    cents = fixed_centroids(first, "embedding", "vec_id", n_centroids=8)
    idx = build_vector_index(
        catalog, "gate", "emb_idx", first,
        n_centroids=8, centroids=cents,
    )
    append_vectors(idx, second)
    return catalog.load_table("gate", "emb_idx")


@query(
    "ann_ivf_persisted",
    # Same probe-all exactness trick as ann_ivf, but through the PERSISTED
    # index lifecycle: the index table is BUILT from the even-id half of the
    # corpus, the odd-id half arrives as a second load via append_vectors
    # (frozen centroids, delta commit), and the query probes every stored
    # list — so build + assignment + sidecar round-trip + append + pruned
    # scan + scoring are all hash-verified against one brute-force SQL over
    # the full corpus.  The approximate path (nprobe < n_lists) and the
    # partition-prune plan shape are pytest-pinned (tests/test_vector_index).
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Persisted IVF index lifecycle (operators/vector_index.py): build "
        "once into a centroid-partitioned LakeTable, append a second load "
        "against the frozen centroids (no retrain, delta commit), query "
        "with probe-all (exact ⇒ oracle-checkable).  nprobe<n_lists "
        "recall + partition-prune plan shape pinned in pytest."
    ),
    setup=_ann_ivf_persisted_setup,
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _stream_vector_index_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.table import LakeTable
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.streaming.vector import run_index_backfill

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, os.path.join(root, "wh"))
    writer = LakeWriter(catalog, "gate")
    for i, half in enumerate(
        (e.filter(F.col("vec_id") % 2 == 0), e.filter(F.col("vec_id") % 2 == 1))
    ):
        writer.write(
            TableSpec(name="vecs", write_disposition="append"),
            half,
            load_id=f"l{i}",
        )
    src = catalog.load_table("gate", "vecs")
    idx = LakeTable(spark, os.path.join(root, "idx"))
    run_index_backfill(
        spark,
        src.location,
        idx,
        checkpoint_dir=os.path.join(root, "ckpt"),
        n_centroids=8,
        centroids=fixed_centroids(
            e.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id", 8
        ),
        query_name="svi",
    )
    return idx


@query(
    "stream_vector_index",
    # Probe-all exactness again, but the index is built by the STANDING
    # STREAM: the embeddings land in a source LakeTable as two loads, the
    # index-maintenance stream processes each snapshot as its own epoch
    # (bootstrap-train on the first, frozen-centroid delta append on the
    # second), and the probe-all query over the streamed index must equal
    # brute force over the full corpus.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Continuous index maintenance (streaming/vector.py): the IVF index "
        "is built by the standing stream — snapshot-grained epochs, "
        "bootstrap once, frozen-centroid appends — and probe-all over the "
        "streamed index hash-matches brute force.  Ledger idempotency and "
        "checkpoint resume pinned in tests/test_stream_vector.py."
    ),
    setup=_stream_vector_index_setup,
)
def stream_vector_index(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_delete_lifecycle_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
        delete_vectors,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    idx = build_vector_index(
        catalog, "gate", "del_idx", first,
        n_centroids=8,
        centroids=fixed_centroids(first, "embedding", "vec_id", 8),
    )
    append_vectors(idx, e.filter(F.col("vec_id") % 2 == 1))
    delete_vectors(idx, e.filter(F.col("vec_id") % 7 == 3))
    return catalog.load_table("gate", "del_idx")


@query(
    "ann_delete_lifecycle",
    # The takedown path, driver-verified end-to-end: the index is built,
    # appended to, and then a deterministic slice of ids (vec_id % 7 = 3)
    # is HARD-DELETED via delete_vectors (MoR equality deletes on the id
    # column — no data-file rewrite).  Probe-all over the masked index
    # must hash-match brute force over a corpus that NEVER contained the
    # deleted rows — proving the masks reach every probe path.  The
    # physical fold (compaction) keeping probes bit-identical is pinned
    # in tests/test_vector_index.py.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
               WHERE vec_id % 7 <> 3),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Vector takedown lifecycle (operators/vector_index.py "
        "delete_vectors): corpus hard-deletes become MoR equality deletes "
        "on the index; probe-all over the masked index hash-matches an "
        "oracle that never saw the deleted rows.  Physical fold via "
        "compaction pinned in pytest."
    ),
    setup=_ann_delete_lifecycle_setup,
)
def ann_delete_lifecycle(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_rebuild_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
        delete_vectors,
        rebuild_vector_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    idx = build_vector_index(
        catalog, "gate", "rb_idx", first,
        n_centroids=8,
        centroids=fixed_centroids(first, "embedding", "vec_id", 8),
    )
    append_vectors(idx, e.filter(F.col("vec_id") % 2 == 1))
    delete_vectors(idx, e.filter(F.col("vec_id") % 11 == 5))
    live = e.filter(F.col("vec_id") % 11 != 5)
    rebuild_vector_index(
        idx, centroids=fixed_centroids(live, "embedding", "vec_id", 4)
    )
    return catalog.load_table("gate", "rb_idx")


@query(
    "ann_rebuild",
    # The drift escape hatch, driver-verified: build on half the corpus,
    # append the rest, hard-delete a slice, then REBUILD — one atomic
    # replace that re-trains (here: deterministic fixed centroids over the
    # live corpus, a DIFFERENT list count than the original 8) and
    # re-assigns every stored row under the new centroids.  Probe-all over
    # the rebuilt index must hash-match brute force over the live corpus —
    # proving the rewrite lost nothing, duplicated nothing, and folded the
    # deletes.  nprobe<n recall restoration + refusal of a second build
    # are pinned in tests/test_vector_index.py.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
               WHERE vec_id % 11 <> 5),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Atomic index rebuild (operators/vector_index.py "
        "rebuild_vector_index): re-train + re-assign ALL rows as one "
        "replace snapshot with a fresh centroid sidecar; probe-all over "
        "the rebuilt index hash-matches brute force over the live corpus "
        "(deletes folded, rows preserved exactly)."
    ),
    setup=_ann_rebuild_setup,
)
def ann_rebuild(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk_persisted(q, idx, k=5, nprobe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_rebalance_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
        index_stats,
        split_list,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    idx = build_vector_index(
        catalog, "gate", "rbal_idx", first,
        n_centroids=8,
        centroids=fixed_centroids(first, "embedding", "vec_id", 8),
    )
    append_vectors(idx, e.filter(F.col("vec_id") % 2 == 1))
    # split the hottest list — always legal, no threshold gamble: the
    # point under test is the partial rewrite's exactness
    groups = idx.aggregate_stats(group_by=["centroid"])
    counts = {g["centroid"]: g["count"] for g in groups}
    split_list(idx, int(max(counts, key=counts.get)), k_split=2)
    idx = catalog.load_table("gate", "rbal_idx")
    assert index_stats(idx)["lists"] >= 8
    return idx


@query(
    "ann_rebalance",
    # Incremental re-clustering, driver-verified: build on half the
    # corpus, append the rest, then SPLIT the hottest inverted list into
    # two sub-lists (operators/vector_index.split_list — rewrites ONLY
    # that list's files; every other list's files and row assignments are
    # untouched, the centroid matrix grows by one, and quantization
    # frames never re-encode).  Probe-all over the split index must
    # hash-match brute force over the full corpus — proving the partial
    # rewrite lost nothing, duplicated nothing, and that probing stays
    # exact across a grown matrix.  The only-hot-files file-diff and the
    # MaintenancePolicy(rebalance_above_skew=) wiring are pinned in
    # tests/test_vector_index.py.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Incremental index re-clustering (operators/vector_index.py "
        "split_list): the hottest inverted list splits into sub-lists in "
        "one O(hot list) partial rewrite — the middle path between "
        "append-forever and the O(index) rebuild; probe-all over the "
        "split index hash-matches brute force over the full corpus."
    ),
    setup=_ann_rebalance_setup,
)
def ann_rebalance(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    nprobe = int(idx.snapshot().properties["vector-index.n-centroids"])
    out = ivf_topk_persisted(q, idx, k=5, nprobe=nprobe)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _stream_vector_cdc_setup(spark: SparkSession, sf_dir: str, root: str):
    import os

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.table import LakeTable
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.streaming.vector import run_index_backfill

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, os.path.join(root, "wh"))
    writer = LakeWriter(catalog, "gate")
    for i, half in enumerate(
        (e.filter(F.col("vec_id") % 2 == 0), e.filter(F.col("vec_id") % 2 == 1))
    ):
        writer.write(
            TableSpec(name="cvecs", write_disposition="append"),
            half,
            load_id=f"l{i}",
        )
    src = catalog.load_table("gate", "cvecs")
    doomed = [r[0] for r in e.filter(F.col("vec_id") % 13 == 4)
              .select("vec_id").collect()]
    src.position_delete_where([("vec_id", "in", doomed)])
    idx = LakeTable(spark, os.path.join(root, "idx"))
    run_index_backfill(
        spark,
        src.location,
        idx,
        checkpoint_dir=os.path.join(root, "ckpt"),
        n_centroids=8,
        centroids=fixed_centroids(
            e.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id", 8
        ),
        query_name="svc",
        changes=True,
    )
    return idx


@query(
    "stream_vector_cdc",
    # CDC-driven index maintenance, driver-verified: the source LakeTable
    # takes two appends and then a MoR row delete (the corpus takedown);
    # the maintainer stream runs in CDC mode, so the delete epoch removes
    # those ids from the index via delete_vectors while append epochs keep
    # landing frozen-centroid deltas.  Probe-all over the streamed index
    # must hash-match brute force over a corpus that never saw the deleted
    # rows.  Upsert resolution (delete+insert same id → new image) pinned
    # in tests/test_stream_vector.py.
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
               WHERE vec_id % 13 <> 4),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "CDC index maintenance (streaming/vector.py changes=True): source "
        "hard-deletes propagate to the persisted index in their epoch — "
        "delete images become MoR equality deletes, insert images append "
        "against frozen centroids; probe-all hash-matches an oracle that "
        "never saw the deleted rows."
    ),
    setup=_stream_vector_cdc_setup,
)
def stream_vector_cdc(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "ann_pq",
    # Gate trick (the ann_ivf treatment): k-means codebooks are not
    # SQL-replayable, but the PQ machinery is codebook-agnostic — so the
    # gate query swaps in DETERMINISTIC codebooks (the 16 corpus rows with
    # the smallest md5(vec_id), hash-ordered ⇒ any engine derives the same
    # set) and the oracle re-derives them, re-encodes every corpus row
    # (per-subspace argmin), and replays ADC table-lookup scoring exactly.
    # This hash-verifies encode + ADC + ranking end-to-end; the TRAINED
    # path (pq_train, Lloyd's) keeps its recall contract in pytest
    # (test_pq_recall_vs_bruteforce, test_ivfpq_recall_vs_bruteforce).
    #
    # ADC identity used by the oracle: sum_j ||q_j − c_j||² decomposes per
    # subspace, so each subspace contributes power(list_distance(slice_q,
    # slice_c), 2) and the per-neighbor sum is the full ADC distance.
    """
    WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         norm AS (
           SELECT vec_id,
                  list_transform(v, x -> x / greatest(
                    sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)),
                    1e-12)) AS v
           FROM raw
         ),
         cb AS (
           SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, v
           FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v FROM norm
                 ORDER BY h, vec_id LIMIT 16)
         ),
         dists AS (
           SELECT n.vec_id AS nid, t.j AS sub_j, c.code,
                  list_distance(list_slice(n.v, t.j * 8 + 1, t.j * 8 + 8),
                                list_slice(c.v, t.j * 8 + 1, t.j * 8 + 8)) AS d
           FROM norm n
           CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) t
           CROSS JOIN cb c
         ),
         enc AS (
           SELECT nid, sub_j, code
           FROM (SELECT *, row_number() OVER (PARTITION BY nid, sub_j
                                              ORDER BY d, code) AS rn
                 FROM dists)
           WHERE rn = 1
         ),
         adc AS (
           SELECT q.vec_id AS query_id, e.nid AS neighbor_id,
                  sum(power(list_distance(
                        list_slice(q.v, e.sub_j * 8 + 1, e.sub_j * 8 + 8),
                        list_slice(c.v, e.sub_j * 8 + 1, e.sub_j * 8 + 8)), 2)) AS adc_dist
           FROM (SELECT * FROM norm WHERE vec_id < 8) q
           CROSS JOIN enc e
           JOIN cb c ON c.code = e.code
           WHERE q.vec_id <> e.nid
           GROUP BY 1, 2
         )
    SELECT query_id, neighbor_id,
           floor(adc_dist * 1000000.0 + 0.5) / 1000000.0 AS adc_dist,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
          FROM adc)
    WHERE rn <= 5
    """,
    doc=(
        "Product-quantization ANN: per-subspace codebooks, corpus compressed "
        "to m=8 one-byte codes, ADC table-lookup scoring "
        "(operators/quantization.py) — the FAISS IVF-PQ memory layout for "
        "corpora that cannot be rescanned as fp32.  Gate variant uses "
        "hash-deterministic codebooks so encode+ADC is oracle-replayable; "
        "the k-means-trained path is recall-pinned in pytest."
    ),
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.quantization import (
        pq_codebooks_fixed,
        pq_encode,
        pq_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    books = pq_codebooks_fixed(e, m_subspaces=8, k_codes=16)
    codes = pq_encode(e, books)
    q = e.filter(F.col("vec_id") < 8)
    out = pq_topk(q, codes, books, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("adc_dist"), 6).alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "ann_sq",
    # Scalar quantization is FULLY deterministic (exact per-dimension
    # min/max, no sampling, no k-means), so unlike PQ the PRODUCTION path
    # itself is oracle-replayable: the oracle recomputes the per-dim
    # stats, re-encodes every vector (floor(x+0.5) clamp — identical IEEE
    # arithmetic), decodes, and ranks by cosine against the decoded
    # corpus.  Summation-order FP drift is absorbed by the same 1e-6
    # rounding every ANN gate uses (list_cosine_similarity folds in array
    # order, like Spark's aggregate).
    """
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         stats AS (
           SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
           FROM embeddings, dims GROUP BY i
         ),
         scl AS (
           SELECT list(mn ORDER BY i) AS mins,
                  list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
                       ORDER BY i) AS scales
           FROM stats
         ),
         dec AS (
           SELECT vec_id AS neighbor_id,
                  [mins[gi] + least(greatest(floor(
                     (embedding[gi]::DOUBLE - mins[gi]) / scales[gi] + 0.5), 0), 255)
                   * scales[gi]
                   FOR gi IN generate_series(1, 64)] AS cv
           FROM embeddings, scl
         ),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cs
           FROM q CROSS JOIN dec WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Scalar-quantized ANN (operators/quantization.py sq_*): int8 per "
        "dimension (4× smaller than fp32), exact one-pass min/max "
        "training, and ZERO-UDF scoring — encode, decode and cosine are "
        "all JVM higher-order functions inside whole-stage codegen (PQ "
        "needs Arrow batches; SQ does not even need that).  The "
        "production path itself is hash-verified: the oracle replays "
        "stats→encode→decode→rank end-to-end."
    ),
)
def ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.quantization import (
        sq_encode,
        sq_topk,
        sq_train,
    )

    e = _t(spark, sf_dir, "embeddings")
    mins, maxs = sq_train(e)
    codes = sq_encode(e, mins, maxs)
    q = e.filter(F.col("vec_id") < 8)
    out = sq_topk(q, codes, mins, maxs, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_sq_persisted_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    idx = build_vector_index(
        catalog, "gate", "sq_idx", first,
        n_centroids=8,
        centroids=fixed_centroids(first, "embedding", "vec_id", 8),
        sq=True,
        store_vectors=False,
    )
    append_vectors(idx, e.filter(F.col("vec_id") % 2 == 1))
    return catalog.load_table("gate", "sq_idx")


@query(
    "ann_sq_persisted",
    # The IVF-SQ8 composite through the PERSISTED lifecycle: the index is
    # built codes-only (store_vectors=False) from the even-id half — the
    # per-dim min/max stats FREEZE there — the odd half appends against
    # the frozen stats (out-of-range values clamp to the edge levels,
    # exactly as the oracle's least/greatest replays), and the probe-all
    # query decodes JVM-side inside the pruned scan.  The oracle recomputes
    # stats over the even half only, encodes/decodes EVERY vector, and
    # ranks by cosine — hash-verifying build + frozen-stat append + sidecar
    # round-trip + decode-in-scan end-to-end.
    """
    WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
         stats AS (
           SELECT i, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
           FROM embeddings, dims WHERE vec_id % 2 = 0 GROUP BY i
         ),
         scl AS (
           SELECT list(mn ORDER BY i) AS mins,
                  list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 1.0 END
                       ORDER BY i) AS scales
           FROM stats
         ),
         dec AS (
           SELECT vec_id AS neighbor_id,
                  [mins[gi] + least(greatest(floor(
                     (embedding[gi]::DOUBLE - mins[gi]) / scales[gi] + 0.5), 0), 255)
                   * scales[gi]
                   FOR gi IN generate_series(1, 64)] AS cv
           FROM embeddings, scl
         ),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cs
           FROM q CROSS JOIN dec WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "Persisted IVF-SQ8 index (write_vector_index(sq=True, "
        "store_vectors=False)): int8-per-dimension inverted lists — 4× "
        "smaller scans — probed via partition pruning and decoded by JVM "
        "higher-order functions inside the scan (no Arrow batch).  Frozen "
        "exact stats make the whole lifecycle oracle-replayable; takedown/"
        "rebuild semantics pinned in tests/test_vector_index.py."
    ),
    setup=_ann_sq_persisted_setup,
)
def ann_sq_persisted(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_ANN_PQ_ORACLE = """
    WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         norm AS (
           SELECT vec_id,
                  list_transform(v, x -> x / greatest(
                    sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)),
                    1e-12)) AS v
           FROM raw
         ),
         cb AS (
           SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, v
           FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v FROM norm
                 ORDER BY h, vec_id LIMIT 16)
         ),
         dists AS (
           SELECT n.vec_id AS nid, t.j AS sub_j, c.code,
                  list_distance(list_slice(n.v, t.j * 8 + 1, t.j * 8 + 8),
                                list_slice(c.v, t.j * 8 + 1, t.j * 8 + 8)) AS d
           FROM norm n
           CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) t
           CROSS JOIN cb c
         ),
         enc AS (
           SELECT nid, sub_j, code
           FROM (SELECT *, row_number() OVER (PARTITION BY nid, sub_j
                                              ORDER BY d, code) AS rn
                 FROM dists)
           WHERE rn = 1
         ),
         adc AS (
           SELECT q.vec_id AS query_id, e.nid AS neighbor_id,
                  sum(power(list_distance(
                        list_slice(q.v, e.sub_j * 8 + 1, e.sub_j * 8 + 8),
                        list_slice(c.v, e.sub_j * 8 + 1, e.sub_j * 8 + 8)), 2)) AS adc_dist
           FROM (SELECT * FROM norm WHERE vec_id < 8) q
           CROSS JOIN enc e
           JOIN cb c ON c.code = e.code
           WHERE q.vec_id <> e.nid
           GROUP BY 1, 2
         )
    SELECT query_id, neighbor_id,
           floor(adc_dist * 1000000.0 + 0.5) / 1000000.0 AS adc_dist,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
          FROM adc)
    WHERE rn <= 5
    """


def _ann_pq_persisted_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.quantization import pq_codebooks_fixed
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    second = e.filter(F.col("vec_id") % 2 == 1)
    idx = build_vector_index(
        catalog, "gate", "pq_idx", first,
        centroids=fixed_centroids(first, "embedding", "vec_id", 8),
        pq=True,
        codebooks=pq_codebooks_fixed(e, m_subspaces=8, k_codes=16),
        store_vectors=False,
    )
    append_vectors(idx, second)
    return catalog.load_table("gate", "pq_idx")


@query(
    "ann_pq_persisted",
    # The ann_pq oracle verbatim: with probe-all, the PERSISTED IVF-PQ
    # index (codes-only — store_vectors=False, the ~32x-smaller layout)
    # scores every row by ADC exactly like flat PQ, so one SQL replay
    # hash-verifies build-time encoding into the partitioned lists, the
    # frozen-codebook append, the sidecar round-trip, the pruned
    # partition read, and ADC ranking end to end.
    _ANN_PQ_ORACLE,
    doc=(
        "Persisted IVF-PQ index (operators/vector_index.py pq=True, "
        "store_vectors=False): inverted lists hold one-byte PQ codes only "
        "— no fp32 column at all — and queries ADC-score the probed "
        "partitions.  Built from the even-id half + frozen-codebook append "
        "of the odd half; probe-all makes it oracle-exact vs flat PQ.  "
        "nprobe<n_lists recall pinned in pytest."
    ),
    setup=_ann_pq_persisted_setup,
)
def ann_pq_persisted(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_pq_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_pq_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("adc_dist"), 6).alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_pq_residual_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.quantization import pq_codebooks_fixed
    from dlt_iceberg_spark.operators.similarity import fixed_centroids
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    second = e.filter(F.col("vec_id") % 2 == 1)
    cents = fixed_centroids(first, "embedding", "vec_id", 8)
    idx = build_vector_index(
        catalog, "gate", "pqres_idx", first,
        centroids=cents,
        pq=True,
        codebooks=pq_codebooks_fixed(
            e, m_subspaces=8, k_codes=16, centroids=cents
        ),
        pq_residual=True,
        store_vectors=False,
    )
    append_vectors(idx, second)
    return catalog.load_table("gate", "pqres_idx")


@query(
    "ann_pq_residual",
    # RESIDUAL IVF-PQ (the FAISS IVFPQ default): codes quantize x̂ − c_list
    # instead of x̂, so the ADC lookup table depends on the (query, list)
    # pair — T[q,j,k] = ‖(q̂ − c_L)_j − cw_j[k]‖².  Gate trick: BOTH frames
    # are hash-deterministic (centroids = 8 smallest-md5 EVEN ids,
    # residual codebooks = 16 smallest-md5 ids' residuals), so the oracle
    # replays the full pipeline — normalize, coarse assign (cosine desc /
    # index asc, numpy-argmax tie rule), residualize, derive codewords,
    # per-subspace argmin encode, per-list ADC — and with probe-all the
    # PERSISTED index (built from the even half, odd half appended against
    # the FROZEN centroids + codebooks, codes-only layout) is hash-exact.
    # The recall ADVANTAGE of residuals over raw codes is pinned in pytest
    # (test_residual_ivfpq_beats_raw_on_clustered_corpus).
    """
    WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         norm AS (
           SELECT vec_id,
                  list_transform(v, x -> x / greatest(
                    sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)),
                    1e-12)) AS v
           FROM raw
         ),
         cent AS (
           SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS c, v AS cv
           FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v FROM norm
                 WHERE vec_id % 2 = 0 ORDER BY h, vec_id LIMIT 8)
         ),
         assign AS (
           SELECT vec_id, v, c AS cluster
           FROM (SELECT n.vec_id, n.v, cent.c,
                        row_number() OVER (
                          PARTITION BY n.vec_id
                          ORDER BY list_cosine_similarity(n.v, cent.cv) DESC, cent.c
                        ) AS rn
                 FROM norm n CROSS JOIN cent)
           WHERE rn = 1
         ),
         res AS (
           SELECT a.vec_id, a.cluster,
                  [a.v[i] - c.cv[i] for i in generate_series(1, 64)] AS rv
           FROM assign a JOIN cent c ON c.c = a.cluster
         ),
         cb AS (
           SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, rv
           FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, rv FROM res
                 ORDER BY h, vec_id LIMIT 16)
         ),
         dists AS (
           SELECT r.vec_id AS nid, t.j AS sub_j, cb.code,
                  list_distance(list_slice(r.rv, t.j * 8 + 1, t.j * 8 + 8),
                                list_slice(cb.rv, t.j * 8 + 1, t.j * 8 + 8)) AS d
           FROM res r
           CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) t
           CROSS JOIN cb
         ),
         enc AS (
           SELECT nid, sub_j, code
           FROM (SELECT *, row_number() OVER (PARTITION BY nid, sub_j
                                              ORDER BY d, code) AS rn
                 FROM dists)
           WHERE rn = 1
         ),
         qres AS (
           SELECT q.vec_id AS query_id, cent.c AS cluster,
                  [q.v[i] - cent.cv[i] for i in generate_series(1, 64)] AS rv
           FROM (SELECT * FROM norm WHERE vec_id < 8) q CROSS JOIN cent
         ),
         adc AS (
           SELECT qr.query_id, e.nid AS neighbor_id,
                  sum(power(list_distance(
                        list_slice(qr.rv, e.sub_j * 8 + 1, e.sub_j * 8 + 8),
                        list_slice(cb.rv, e.sub_j * 8 + 1, e.sub_j * 8 + 8)), 2)) AS adc_dist
           FROM enc e
           JOIN res r ON r.vec_id = e.nid
           JOIN qres qr ON qr.cluster = r.cluster
           JOIN cb ON cb.code = e.code
           WHERE qr.query_id <> e.nid
           GROUP BY 1, 2
         )
    SELECT query_id, neighbor_id,
           floor(adc_dist * 1000000.0 + 0.5) / 1000000.0 AS adc_dist,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, neighbor_id) AS rn
          FROM adc)
    WHERE rn <= 5
    """,
    doc=(
        "Residual IVF-PQ persisted index (operators/vector_index.py "
        "pq=True, pq_residual=True, store_vectors=False): codes quantize "
        "each vector's OFFSET from its inverted list's centroid — the "
        "FAISS IVFPQ default, strictly better recall at the same code "
        "budget on clustered corpora (pytest-pinned) — and ADC builds "
        "per-list lookup tables executor-side (one per Arrow batch, lists "
        "are partitions).  Built from the even-id half, odd half appended "
        "under the frozen frames; probe-all makes the persisted pipeline "
        "hash-exact vs a full SQL replay."
    ),
    setup=_ann_pq_residual_setup,
)
def ann_pq_residual(spark: SparkSession, sf_dir: str, idx) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_pq_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_pq_topk_persisted(q, idx, k=5, nprobe=8)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("adc_dist"), 6).alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_opq_setup(spark: SparkSession, sf_dir: str, root: str):
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.operators.vector_index import (
        append_vectors,
        build_vector_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    catalog = LakeCatalog(spark, root)
    first = e.filter(F.col("vec_id") % 2 == 0)
    second = e.filter(F.col("vec_id") % 2 == 1)
    idx = build_vector_index(
        catalog, "gate", "opq_idx", first,
        n_centroids=8,
        pq=True, pq_residual=True, pq_opq=True,
        m_subspaces=8, k_codes=16,
    )
    append_vectors(idx, second)
    return (catalog.load_table("gate", "opq_idx"), int(e.count()))


@query(
    "ann_opq",
    # OPQ (Ge et al. 2013; FAISS OPQMatrix): a LEARNED orthogonal rotation
    # minimizing PQ reconstruction error — trained via SVD-Procrustes, so
    # (unlike residual codes over fixed frames) it is NOT SQL-replayable.
    # Gate trick: probe-all + rerank=|corpus| makes the output EXACT
    # cosine top-k (the FAISS refine step re-scores every probed candidate
    # against stored fp32 vectors), so the whole trained pipeline —
    # opq_train, rotated residual encode into the partitioned lists,
    # frozen-rotation append, probe-gated ADC preselection, exact rerank —
    # is hash-verified against plain brute force; the rotation's QUALITY
    # contract (MSE strictly below identity-rotation PQ) is pinned in
    # pytest (test_opq_rotation_reduces_quantization_error).
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qe, ce) AS cs
           FROM q CROSS JOIN c WHERE query_id <> neighbor_id
         )
    SELECT query_id, neighbor_id,
           floor(cs * 1000000.0 + 0.5) / 1000000.0 AS cosine,
           rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc=(
        "OPQ-rotated residual IVF-PQ persisted index (operators/"
        "vector_index.py pq=True, pq_residual=True, pq_opq=True): a "
        "learned orthogonal rotation re-balances variance across PQ "
        "subspaces before encoding (FAISS OPQMatrix), frozen in the "
        "sidecar and applied by appends/splits/probes.  Gate probes all "
        "lists and reranks every candidate exactly (FAISS refine), so "
        "the output hash-matches brute force; rotation quality is "
        "MSE-pinned in pytest."
    ),
    setup=_ann_opq_setup,
)
def ann_opq(spark: SparkSession, sf_dir: str, fixture) -> DataFrame:
    from dlt_iceberg_spark.operators.vector_index import ivf_pq_topk_persisted

    e = _t(spark, sf_dir, "embeddings")
    idx, n_rows = fixture
    q = e.filter(F.col("vec_id") < 8)
    out = ivf_pq_topk_persisted(q, idx, k=5, nprobe=8, rerank=n_rows)
    return out.select(
        "query_id",
        "neighbor_id",
        rnd(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


@query(
    "text_rolling_fingerprint",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(text, '\s+'),
                            s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS th
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(th) < 8
             THEN [list_reduce(list_prepend(0::BIGINT, th),
                               (acc, h) -> (acc * 1000003 + h % 2147483647) % 2147483647)]
             ELSE [list_reduce(list_prepend(0::BIGINT, list_slice(th, i, i + 7)),
                               (acc, h) -> (acc * 1000003 + h % 2147483647) % 2147483647)
                   for i in generate_series(1, len(th) - 7)]
        END AS hs
      FROM t
    ), kept AS (
      SELECT doc_id, list_sort(list_filter(hs, h -> h % 16 = 0)) AS k FROM sh
    )
    SELECT doc_id,
           md5(coalesce(array_to_string(k, ','), '')) AS fingerprint,
           CAST(len(k) AS BIGINT) AS n_anchors
    FROM kept
    """,
    doc=(
        "Winnowing-style rolling-hash fingerprints (content-defined anchors): "
        "8-token shingles hashed by a polynomial fold mod 2^31-1, anchors = "
        "hashes ≡ 0 (mod 16), fingerprint = digest of the sorted anchor set.  "
        "Registered in hash_mode='md5' so DuckDB replays every fold step "
        "exactly (list_reduce over the same 60-bit md5-prefix token hashes)."
    ),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import rolling_fingerprint

    d = _t(spark, sf_dir, "documents")
    out = rolling_fingerprint(d, "text", hash_mode="md5")
    return out.select("doc_id", "fingerprint", "n_anchors")


@query(
    "text_quality_score",
    f"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_TOKENS_SQL}) AS DOUBLE) AS n_tok,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_chars,
             CAST(len(list_filter({_TOKENS_SQL},
                  t -> t IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE) AS n_stop
      FROM documents
    ), g AS (
      SELECT doc_id, n_tok,
             (n_chars - (n_tok - 1)) / n_tok AS mean_word_len,
             n_stop / n_tok AS stopword_ratio,
             alpha_chars / greatest(n_chars, 1.0) AS alpha_ratio
      FROM f
    )
    SELECT doc_id,
           {_sql_rnd('mean_word_len', 4)} AS mean_word_len,
           {_sql_rnd('stopword_ratio', 4)} AS stopword_ratio,
           {_sql_rnd('alpha_ratio', 4)} AS alpha_ratio,
           {_sql_rnd(
               "(CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END)"
               " + (CASE WHEN mean_word_len >= 2.5 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END)"
               " + (CASE WHEN stopword_ratio > 0.01 THEN 0.25 ELSE 0.0 END)"
               " + (CASE WHEN alpha_ratio > 0.6 THEN 0.25 ELSE 0.0 END)", 2
           )} AS quality_score
    FROM g
    """,
    doc="Blended C4/Gopher-style quality score per document (operators/text.py).",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return quality_score(d).select(
        "doc_id",
        rnd(F.col("mean_word_len"), 4).alias("mean_word_len"),
        rnd(F.col("stopword_ratio"), 4).alias("stopword_ratio"),
        rnd(F.col("alpha_ratio"), 4).alias("alpha_ratio"),
        rnd(F.col("quality_score"), 2).alias("quality_score"),
    )


@query(
    "chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE 1 + ((len(toks) - 64 + 47) // 48) END AS n_chunks
      FROM t
    ), e AS (
      SELECT doc_id, toks,
             CAST(unnest(generate_series(0, n_chunks - 1)) AS INT) AS chunk_id
      FROM c
    )
    SELECT doc_id, chunk_id,
           md5(array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')) AS chunk_md5,
           CAST(len(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS BIGINT) AS n_chunk_tokens
    FROM e
    """,
    doc=(
        "Context-window chunking: overlapping 64-token windows at stride 48 "
        "(operators/text.py::chunk_documents).  Map-side transform + "
        "posexplode — no shuffle, and a giant document becomes many rows, "
        "never one giant row.  Compared by (doc, chunk_id, md5(chunk), "
        "token count)."
    ),
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    out = chunk_documents(d, "text", "doc_id", chunk_tokens=64, stride=48)
    return out.select(
        "doc_id",
        "chunk_id",
        F.md5(F.encode("chunk_text", "UTF-8")).alias("chunk_md5"),
        "n_chunk_tokens",
    )


def _pack_oracle() -> str:
    from dlt_iceberg_spark.operators.packing import pack_oracle_sql

    inner = pack_oracle_sql(
        "(SELECT doc_id, len(" + _TOKENS_SQL + ") AS n_tok FROM documents)",
        "n_tok",
        budget=512,
    )
    return f"""
    SELECT pack_group, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens
    FROM (
      SELECT p.*, len({_TOKENS_SQL}) AS n_tok
      FROM ({inner}) p JOIN documents USING (doc_id)
    )
    GROUP BY pack_group, pack_id
    """


@query(
    "pack_documents",
    _pack_oracle(),
    doc=(
        "Sequence packing: documents grouped into ~512-token packs via "
        "hash-grouped running sums (operators/packing.py).  The greedy "
        "packer is sequential; this form runs one independent window per "
        "hash group — one shuffle, no global sort, density loss negligible "
        "once packs-per-group >> 1."
    ),
)
def pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.packing import pack_sequences
    from dlt_iceberg_spark.operators.text import token_stats

    d = token_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("n_tokens_ws").alias("n_tok")
    )
    packed = pack_sequences(d, "n_tok", budget=512)
    return packed.groupBy("pack_group", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
    )


@query(
    "shuffle_shards",
    """
    SELECT shard, count(*) AS n_docs,
           min(shard_pos) AS first_pos, max(shard_pos) AS last_pos
    FROM (
      SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ep0'), 1, 8) AS BIGINT)
                  % 8 AS INT) AS shard,
             substr(md5(CAST(doc_id AS VARCHAR) || 'ep0'), 9, 16) AS shard_pos
      FROM documents
    ) GROUP BY shard
    """,
    doc=(
        "Deterministic training-export shuffle: md5-derived shard id + "
        "within-shard position, so a rerun (or another engine) produces "
        "bit-identical shards with no orderBy(rand()) and no global sort "
        "(operators/sampling.py::shuffle_shards).  Checked by per-shard "
        "counts and position extrema."
    ),
)
def shuffle_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.sampling import shuffle_shards

    d = _t(spark, sf_dir, "documents")
    return (
        shuffle_shards(d, "doc_id", 8, seed="ep0")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("shard_pos").alias("first_pos"),
            F.max("shard_pos").alias("last_pos"),
        )
    )


@query(
    "contamination_check",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct(list_transform(range(0, len(t) - 4),
                                       i -> array_to_string(t[i+1:i+5], ' ')))
                    END) AS s
      FROM tok
    ), probe AS (
      SELECT DISTINCT s FROM sh WHERE doc_id < 20
    )
    SELECT d.doc_id, count(*) AS n_hits
    FROM (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id >= 20) d
    JOIN probe USING (s)
    GROUP BY d.doc_id
    """,
    doc=(
        "Benchmark-contamination detection: training docs sharing any "
        "5-gram with the probe set (docs 0-19 as a stand-in eval set).  "
        "Probe shingle hashes broadcast; the corpus explodes shingles "
        "map-side and only candidate doc ids shuffle "
        "(operators/text.py::contamination_check)."
    ),
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import contamination_check

    d = _t(spark, sf_dir, "documents")
    return contamination_check(
        d.filter(F.col("doc_id") >= 20), d.filter(F.col("doc_id") < 20), shingle_k=5
    )


_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or +1 (555) 010-' || CAST(doc_id AS VARCHAR)"
    " || ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)"
)


@query(
    "redact_pii",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents),
    r AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS t1
      FROM aug
    ), r2 AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t1, '\\+?[0-9][0-9()\\- ]{{7,}}[0-9]')) AS BIGINT) AS n_phone,
             regexp_replace(t1, '\\+?[0-9][0-9()\\- ]{{7,}}[0-9]', '<PHONE>', 'g') AS t2
      FROM r
    )
    SELECT doc_id, n_email, n_phone,
           CAST(len(regexp_extract_all(t2, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(t2, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<IPV4>', 'g')) AS redacted_md5
    FROM r2
    """,
    doc=(
        "PII scrub: email/phone/IPv4 spans replaced with typed tokens and "
        "counted, as a map-side regexp chain in whole-stage codegen "
        "(operators/text.py::redact_pii).  The fixture text carries no "
        "natural PII, so both engines first append identical synthetic "
        "contact strings derived from doc_id; patterns are RE2-safe so the "
        "DuckDB oracle runs the SAME regexes.  Compared by counts + "
        "md5(redacted text)."
    ),
)
def redact_pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.expr(
            "concat(text, ' contact user', CAST(doc_id AS STRING), "
            "'@example.com or +1 (555) 010-', CAST(doc_id AS STRING), "
            "' from 10.0.0.', CAST(doc_id % 256 AS STRING))"
        ),
    )
    out = redact_pii(d)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5(F.encode("text_redacted", "UTF-8")).alias("redacted_md5"),
    )


_QUALITY_TOK_CTE = f"""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_TOKENS_SQL}) AS DOUBLE) AS n_tok,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_chars,
             CAST(len(list_filter({_TOKENS_SQL},
                  t -> t IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE) AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN (n_chars - (n_tok - 1)) / n_tok >= 2.5
                    AND (n_chars - (n_tok - 1)) / n_tok <= 12 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN n_stop / n_tok > 0.01 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN alpha_chars / greatest(n_chars, 1.0) > 0.6 THEN 0.25 ELSE 0.0 END)
             AS q
      FROM f
    )
"""


@query(
    "select_quality_budget",
    f"""
    {_QUALITY_TOK_CTE}
    SELECT doc_id, CAST(q AS DOUBLE) AS score, n_tok FROM (
      SELECT doc_id, q, n_tok,
             sum(n_tok) OVER (ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS run
      FROM scored
    ) WHERE run <= 12000
    """,
    doc=(
        "Token-budget curation: highest-quality documents first until a "
        "12k-token budget fills — exactly the sorted-cumulative-sum "
        "selection, computed without a global sort: per-score totals + "
        "driver cumsum pick the boundary score, id-range bucketing narrows "
        "the ties, and only 1/1024 of them pays an exact window "
        "(operators/sampling.py::select_top_tokens)."
    ),
)
def select_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dlt_iceberg_spark.operators.sampling import select_top_tokens
    from dlt_iceberg_spark.operators.text import quality_score

    d = quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("quality_score").alias("score"),
        F.col("n_tokens").alias("n_tok"),
    )
    return select_top_tokens(d, "score", "n_tok", budget=12000)


def _corpus_prep_oracle() -> str:
    from dlt_iceberg_spark.operators.sampling import sample_oracle_gate, split_oracle_case

    gate = sample_oracle_gate("doc_id", 0.5)
    case = split_oracle_case("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
    WITH f AS (
      SELECT doc_id, lang, text,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len({_TOKENS_SQL}) AS DOUBLE) AS n_tok,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_chars,
             CAST(len(list_filter({_TOKENS_SQL},
                  t -> t IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE) AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, text,
             (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN (n_chars - (n_tok - 1)) / n_tok >= 2.5
                    AND (n_chars - (n_tok - 1)) / n_tok <= 12 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN n_stop / n_tok > 0.01 THEN 0.25 ELSE 0.0 END)
           + (CASE WHEN alpha_chars / greatest(n_chars, 1.0) > 0.6 THEN 0.25 ELSE 0.0 END)
             AS q
      FROM f
    ), kept AS (
      SELECT doc_id, lang, text FROM scored WHERE q >= 0.75
    ), canon AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang, min(doc_id) OVER (PARTITION BY md5(text)) AS c FROM kept
      ) WHERE doc_id = c
    ), sampled AS (
      SELECT doc_id, lang FROM canon WHERE {gate}
    )
    SELECT doc_id, lang, {case} AS split FROM sampled
    """


@query(
    "corpus_prep",
    _corpus_prep_oracle(),
    doc=(
        "The flagship training-data pipeline, composed end-to-end: "
        "quality-filter (C4/Gopher-style blend >= 0.75) -> exact dedup "
        "(min doc_id per content hash) -> reproducible 50% sample -> "
        "train/val/test hash split.  Every stage is the production "
        "operator (operators/text.py, operators/dedup.py semantics, "
        "operators/sampling.py); the whole prep is two shuffles — the "
        "dedup window and nothing else — since scoring, sampling, and "
        "splitting are map-side."
    ),
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dlt_iceberg_spark.operators.sampling import deterministic_sample, hash_split
    from dlt_iceberg_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    kept = quality_score(d).filter(F.col("quality_score") >= 0.75)
    w = Window.partitionBy(F.md5(F.encode(F.col("text"), "UTF-8")))
    canon = (
        kept.withColumn("_canon", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_canon"))
        .select("doc_id", "lang")
    )
    sampled = deterministic_sample(canon, "doc_id", 0.5)
    return hash_split(sampled, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "lang", "split"
    )
