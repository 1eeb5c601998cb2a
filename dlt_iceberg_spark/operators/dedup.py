"""Deduplication operators: exact, MinHash+LSH, SimHash, token-Jaccard.

All JVM-side expressions (xxhash64, higher-order array functions) — no
Python UDFs in any hot path.  Scale design notes per operator:

- exact: one shuffle keyed by content hash; skew-free (hashes distribute).
- MinHash+LSH: shingle explode is the widest stage (rows × shingles) but is
  map-side until the per-doc signature aggregation (one shuffle on doc id);
  banding then buckets docs so the candidate join is per-bucket, never the
  full n² cross join.  Band count / rows trade recall vs bucket size; skewed
  buckets (boilerplate docs) are capped via a per-bucket size limit.
- SimHash: 64 weighted-bit sums per doc — pure map + one groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from dlt_iceberg_spark.operators.util import fan_out

#: Last physical strategy chosen by each adaptive operator (operator name →
#: "bitmask" | "lsh" | "allpairs").  The auto paths re-plan at runtime from
#: corpus statistics, so two benchmark tiers can legitimately run different
#: algorithms for the same query — bench.py snapshots this after each query
#: and records it in the artifact, making cross-tier strategy flips visible
#: instead of reading as regressions (VERDICT r5 task 2).
STRATEGY_TRACE: dict[str, str] = {}


def _tokens(text_col: str):
    return F.split(F.col(text_col), r"\s+")


# Plan-build note: the wide expression trees below are assembled as SQL
# strings parsed JVM-side in ONE call each.  Building them Column-by-Column
# (nested Python lambdas, per-seed F.expr aggregates) costs hundreds of py4j
# round trips — ~2s of driver time per plan at any scale, which at small SF
# exceeds the query's own execution time.  Semantics are identical; the
# Column forms are kept in docstrings where they aid readability.
def _tokens_sql(text_col: str) -> str:
    return rf"split({text_col}, '\\s+')"


#: token-hash expressions by mode.  'xx' (xxhash64) is the production path —
#: one JVM codegen call, 64 bits.  'md5' is the cross-engine verification
#: path: the top 15 hex chars of md5 as a 60-bit non-negative long, which
#: DuckDB reproduces exactly via ('0x' || substr(md5(t), 1, 15))::BIGINT —
#: xxhash64 exists only in Spark, so hash-exact oracles need this mode.
def _token_hash_sql(expr: str, hash_mode: str) -> str:
    if hash_mode == "xx":
        return f"xxhash64({expr})"
    if hash_mode == "md5":
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    raise ValueError(f"unknown hash_mode {hash_mode!r} (expected 'xx' or 'md5')")


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup by content hash: canonical id = min(id) per hash.

    Returns (content_hash, canonical_id, n_copies, ids).
    """
    h = F.md5(F.concat_ws("", *[F.col(c).cast("string") for c in content_cols]))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
    )


def shingles_of(toks, k: int = 3):
    """k-token shingles over a token ARRAY COLUMN.

    Pass a projected attribute (e.g. ``F.col("_toks")``), not a raw
    ``split(...)`` expression: expressions captured inside the transform
    lambda re-evaluate per shingle (re-tokenizing the document n/1 times —
    O(n²) per row); an attribute reference makes the slice plain indexing.
    """
    n = F.size(toks)
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


def shingles(text_col: str, k: int = 3):
    """k-token shingles from a text column — ONLY for single-reference
    projections; see :func:`shingles_of` for the giant-doc-safe form."""
    return shingles_of(_tokens(text_col), k)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Shingle strings are hashed to longs ONCE (map-side transform), then
    exploded so the ``n_hashes`` seeded min-aggregates run over longs inside
    whole-stage-codegen hash aggregation with map-side partial combine — the
    shuffle carries one row per doc, and no string is hashed more than once.
    (A fully map-side ``array_min(transform(...))`` formulation avoids the
    shuffle but loses codegen — higher-order functions are interpreted — and
    benches slower.)
    """
    k = shingle_k
    if k == 1:
        # unigram fast path: token-SET MinHash — no shingle re-concat (k>1
        # builds each shingle string with concat_ws; at k=1 that's a copy of
        # every token), just distinct + hash
        shingle_sql = "array_distinct(_toks)"
    else:
        shingle_sql = (
            f"array_distinct(CASE WHEN size(_toks) < {k} THEN array(concat_ws(' ', _toks)) "
            f"ELSE transform(sequence(0, size(_toks) - {k}), "
            f"i -> concat_ws(' ', slice(_toks, i + 1, {k}))) END)"
        )
    sh = (
        fan_out(df)
        .selectExpr(id_col, f"{_tokens_sql(text_col)} AS _toks")
        .selectExpr(
            id_col,
            f"explode(transform({shingle_sql}, s -> xxhash64(s))) AS sh",
        )
    )
    # ONE aggregate expression producing the whole signature array: a 64-way
    # .agg(col, col, ...) costs ~0.5s of analysis/py4j alone
    mins = ", ".join(f"min(xxhash64({i}, sh))" for i in range(n_hashes))
    return sh.groupBy(id_col).agg(F.expr(f"array({mins}) AS signature"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
    max_bucket: int = 1000,
    distinct: bool = True,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (a < b) sharing any band
    bucket.

    Buckets larger than ``max_bucket`` are dropped — at corpus scale a
    boilerplate bucket (e.g. empty docs) would otherwise produce a quadratic
    pair explosion; such content belongs to exact dedup.

    One shuffle total: group by (band, bucket) collecting the (size-capped)
    member list, then emit i<j pairs from each list in place.  The
    alternative — windowed bucket-size + bucket self-join — costs a window
    sort plus two more exchanges and computes the banding twice.  The
    ``max_bucket`` cap bounds both the collected list and the emitted pairs,
    so no group can OOM an executor.
    """
    rpb = f"CAST(size(signature) / {bands} AS INT)"
    banded = signatures.selectExpr(
        id_col,
        f"explode(transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
        f"xxhash64(b, concat_ws(',', slice(signature, b * {rpb} + 1, {rpb}))) AS bucket))) AS bb",
    ).selectExpr(id_col, "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.expr(f"sort_array(collect_list({id_col})) AS ids"))
        .filter(F.expr(f"size(ids) BETWEEN 2 AND {max_bucket}"))
    )
    # a near-dup CLUSTER lands in the same member set in most of the bands,
    # so the same sorted id list recurs up to ``bands`` times; dropping
    # duplicate lists BEFORE the O(|bucket|²) pair production cuts emitted
    # pairs by ~bands× on clustered corpora (the later distinct then only
    # reconciles partially-overlapping lists).
    lists = (
        buckets.select("ids")
        .distinct()
        .selectExpr("xxhash64(concat_ws(',', ids)) AS lid", "ids")
        # both sides of the pair self-join below read this relation — if it
        # stays lazy, each side recomputes the WHOLE upstream (shingle
        # hashing, signature aggregation, banding), and with a lazy persist
        # the two branches RACE to fill the cache (bimodal 4s/45s runs).
        # An eager localCheckpoint materializes the tiny relation (one row
        # per unique bucket list) exactly once, truncates the lineage, and
        # gives AQE exact sizes so the downstream joins plan stably.
        .localCheckpoint(eager=True)
    )
    # pair production as a relational self-equi-join on the list id, NOT an
    # explode of a built pair array: transform/flatten lambdas are
    # interpreted (no codegen) and materialize up to max_bucket²/2 structs
    # in one generate row — a straggler task per big bucket.  The join emits
    # the same pairs from a whole-stage-codegen hash join, parallel across
    # member rows.
    m = lists.select("lid", F.explode("ids").alias(id_col))
    pairs = (
        m.select("lid", F.col(id_col).alias("a"))
        .join(m.select("lid", F.col(id_col).alias("b")), "lid")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return pairs.distinct() if distinct else pairs


def minhash_jaccard_estimate(
    signatures: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Estimated Jaccard = fraction of equal signature positions."""
    sa = signatures.select(F.col(id_col).alias("a"), F.col("signature").alias("sig_a"))
    sb = signatures.select(F.col(id_col).alias("b"), F.col("signature").alias("sig_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .selectExpr(
            "a",
            "b",
            "size(filter(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)), v -> v = 1))"
            " / size(sig_a) AS jaccard_est",
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup clusters: docs whose estimated Jaccard ≥ threshold get a
    canonical id = min id among their neighbors (single-pass star
    clustering; full transitive closure is an iterative extension).

    Returns (id, canonical_id, is_duplicate).
    """
    # the signature projection feeds four plan branches (both sides of the
    # bucket self-join + both jaccard lookups) — persist so the shingle
    # hashing runs once, not four times
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k).persist()
    pairs = minhash_lsh_candidates(sig, id_col, bands)
    scored = minhash_jaccard_estimate(sig, pairs, id_col).filter(
        F.col("jaccard_est") >= threshold
    )
    # neighbor-min star clustering: canonical = min(id, matched partners)
    edges = scored.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        scored.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    canon = edges.groupBy("x").agg(F.min("y").alias("nbr_min"))
    canonical = F.least(F.coalesce("nbr_min", "x"), F.col("x"))
    return (
        df.select(F.col(id_col).alias("x"))
        .join(canon, "x", "left")
        .select(
            F.col("x").alias(id_col),
            canonical.alias("canonical_id"),
            (canonical != F.col("x")).alias("is_duplicate"),
        )
    )


def minhash_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH candidates verified by EXACT token-set Jaccard ≥ ``threshold``.

    This is the production near-dup pair pipeline: MinHash banding proposes
    candidates (bucketed, never all-pairs), then only candidates pay the
    exact Jaccard check — so the output is exact-Jaccard pairs, minus any
    pair the banding missed.  With ``bands=32`` over 64 hashes (2 rows per
    band) a pair at Jaccard j is missed with probability (1−j²)^32 ≤ 3.9e-15
    at j = 0.8, so on any fixed corpus the output is deterministically the
    exact pair set — which is what lets a brute-force all-pairs SQL oracle
    hash-match this distributed pipeline end-to-end (recall regressions
    surface as missing rows).

    At ``shingle_k=1`` (token-set semantics) the pipeline first collapses
    docs into token-set equivalence classes (see
    :func:`_verified_pairs_token_classes`) — exact-duplicate collapse before
    near-dup search, the standard corpus-dedup layering.  Web-scale corpora
    are duplicate-heavy, and every group of c identical docs otherwise
    inflates each of its LSH buckets by c and candidate pairs by c².

    Returns (a, b, jaccard) with a < b.
    """
    if shingle_k == 1:
        return _verified_pairs_token_classes(
            df, text_col, id_col, n_hashes, bands, threshold
        )
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    # distinct BEFORE verification: overlapping bucket lists duplicate ~half
    # the candidates, and the per-pair array intersect/union is the most
    # expensive per-row work in the pipeline — measured on the self-similar
    # bench corpus, paying the pair-level shuffle first beats verifying the
    # duplicated stream and deduping afterwards.  The distinct is also the
    # shuffle boundary that lets AQE see the real (small) size of the token
    # dimension and convert the verify joins to broadcast at runtime.
    cands = minhash_lsh_candidates(sig, id_col, bands)
    # verify on HASHED token sets: long-array intersect/union is ~5× cheaper
    # than string-array ops and the candidate side is the big input (up to
    # O(n²) on self-similar corpora).  A 64-bit collision merging two tokens
    # of one pair has p ≈ (tokens/doc)²/2⁶⁴ — below any realistic corpus's
    # bit-flip rate.
    toks = df.selectExpr(
        id_col,
        f"array_distinct(transform({_tokens_sql(text_col)}, t -> xxhash64(t))) AS _toks",
    )
    ta = toks.select(F.col(id_col).alias("a"), F.col("_toks").alias("ta"))
    tb = toks.select(F.col(id_col).alias("b"), F.col("_toks").alias("tb"))
    return (
        cands.join(ta, "a")
        .join(tb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .dropDuplicates(["a", "b"])
        .select("a", "b", "jaccard")
    )


def _verified_pairs_token_classes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Token-set MinHash pair pipeline over EQUIVALENCE CLASSES of docs.

    Docs with the same distinct-token set have identical signatures, land in
    the same LSH buckets in every band, and pairwise Jaccard 1.0 — running
    banding at doc granularity makes every c-sized identical group inflate
    its buckets by c and candidate pairs by c².  Collapsing to one class row
    first (class key = hash of the sorted token-hash set) makes bucket size
    proportional to the number of DISTINCT contents, then class-level
    verified pairs expand back to doc pairs: cross-class pairs share one
    exact Jaccard; intra-class pairs are 1.0 ≥ threshold by construction.

    Semantics are identical to the per-doc pipeline (same signature math on
    the same hashed token sets, same exact verification) — only the unit of
    banding changes.  One extra narrow shuffle (the class groupBy) buys a
    candidate stream quadratically smaller on duplicate-heavy corpora.
    """
    toks = df.selectExpr(
        id_col,
        f"array_sort(array_distinct(transform({_tokens_sql(text_col)}, "
        "t -> xxhash64(t)))) AS ts",
    )
    classes = (
        toks.selectExpr(id_col, "xxhash64(concat_ws(',', ts)) AS ck", "ts")
        .groupBy("ck")
        .agg(
            F.first("ts").alias("ts"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        # read by 5 plan branches (signature, both verify lookups, both
        # expansion lookups, intra pairs); the eager checkpoint inside
        # minhash_lsh_candidates materializes the cache before any branch
        # races, so a plain persist is deterministic here
        .persist()
    )
    mins = ", ".join(f"min(xxhash64({i}, sh))" for i in range(n_hashes))
    sig = (
        classes.select("ck", F.explode("ts").alias("sh"))
        .groupBy("ck")
        .agg(F.expr(f"array({mins}) AS signature"))
    )
    cands = minhash_lsh_candidates(sig, "ck", bands)
    ca = classes.select(F.col("ck").alias("a"), F.col("ts").alias("ta"))
    cb = classes.select(F.col("ck").alias("b"), F.col("ts").alias("tb"))
    class_pairs = (
        cands.join(ca, "a")
        .join(cb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return _expand_class_pairs(classes, class_pairs, "ck")


def _expand_class_pairs(classes: DataFrame, class_pairs: DataFrame, key: str) -> DataFrame:
    """Expand verified CLASS pairs (a, b, jaccard keyed by ``key``) to doc
    pairs: cross-class members inherit the class pair's exact Jaccard;
    intra-class pairs are Jaccard 1.0 by construction.  ``classes`` must
    carry (key, ids) with sorted member lists.  Doc pairs are unique by
    construction (each doc belongs to exactly one class)."""
    ia = classes.select(F.col(key).alias("a"), F.col("ids").alias("ia"))
    ib = classes.select(F.col(key).alias("b"), F.col("ids").alias("ib"))
    cross = (
        class_pairs.join(ia, "a")
        .join(ib, "b")
        .select(F.explode("ia").alias("x"), "ib", "jaccard")
        .select("x", F.explode("ib").alias("y"), "jaccard")
        .select(
            F.least("x", "y").alias("a"),
            F.greatest("x", "y").alias("b"),
            F.col("jaccard"),
        )
    )
    m = classes.select(key, F.explode("ids").alias("i"))
    intra = (
        m.select(key, F.col("i").alias("a"))
        .join(m.select(key, F.col("i").alias("b")), key)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(intra)


def token_set_similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 32,
    small_universe_bits: int = 64,
    max_classes_allpairs: int = 20000,
) -> DataFrame:
    """Exact token-set Jaccard self-join: all doc pairs with Jaccard ≥
    ``threshold``, choosing the physical strategy from corpus statistics
    (the AQE philosophy applied to a custom operator):

    - **Small-universe bitmask path** — when the corpus vocabulary fits in
      ``small_universe_bits`` (≤ 64 distinct tokens), every token set is one
      BIGINT bitmask: Jaccard(x, y) = bit_count(x & y) / bit_count(x | y),
      exactly, with no hashing at all.  Docs collapse into mask equivalence
      classes, the class self-join verifies with two bit_count ops per pair
      (whole-stage codegen), and class pairs expand back to doc pairs.  The
      result is deterministically EXACT at every scale — this is the only
      strategy that stays cheap when near-dup density is quadratic (tiny
      vocabularies make most pairs similar, so candidate generation cannot
      prune; O(1)-per-pair verification is the optimal move).
    - **Classed MinHash-LSH path** — general vocabularies route to
      :func:`_verified_pairs_token_classes`: banding proposes candidates,
      only candidates pay the exact check (miss p ≤ (1-t²)^bands per pair).

    Two O(1)-output stat jobs (vocabulary count; class count) pick the path —
    the same pattern as AQE's runtime re-planning, done at operator grain.

    Returns (a, b, jaccard) with a < b.
    """
    toks = df.selectExpr(
        id_col, f"array_distinct({_tokens_sql(text_col)}) AS _toks"
    )
    vocab = toks.select(F.explode("_toks").alias("t")).distinct()
    # bounded collect: caller-declared universe budget (≤64 distinct tokens)
    vocab_rows = vocab.limit(small_universe_bits + 1).collect()
    if len(vocab_rows) > small_universe_bits:
        STRATEGY_TRACE["token_set_similarity_join"] = "lsh"
        return _verified_pairs_token_classes(
            df, text_col, id_col, n_hashes, bands, threshold
        )
    STRATEGY_TRACE["token_set_similarity_join"] = "bitmask"
    bit_of = {r.t: i for i, r in enumerate(sorted(vocab_rows))}
    mapping = F.create_map(
        *[x for t, i in bit_of.items() for x in (F.lit(t), F.lit(i))]
    )
    masks = (
        toks.select(id_col, F.explode("_toks").alias("t"))
        .select(id_col, mapping[F.col("t")].alias("bit"))
        .groupBy(id_col)
        .agg(F.sum(F.expr("shiftleft(1L, bit)")).alias("mask"))
    )
    classes = (
        masks.groupBy("mask")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .persist()
    )
    n_classes = classes.count()  # also materializes the persist, race-free
    if n_classes > max_classes_allpairs:
        # quadratic class join would not fit the budget — band the masks
        # through the LSH path instead (still classed, still exact-verified)
        classes.unpersist()
        return _verified_pairs_token_classes(
            df, text_col, id_col, n_hashes, bands, threshold
        )
    cm = classes.select("mask")
    xa, xb = F.col("a"), F.col("b")
    class_pairs = (
        cm.select(F.col("mask").alias("a"))
        .join(F.broadcast(cm.select(F.col("mask").alias("b"))), xa < xb)
        .withColumn(
            "jaccard",
            F.bit_count(xa.bitwiseAND(xb))
            / F.bit_count(xa.bitwiseOR(xb)).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return _expand_class_pairs(classes, class_pairs, "mask")


def build_dedup_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
) -> DataFrame:
    """Corpus-side incremental-dedup index: one row per token-SET
    equivalence class — ``(ck, ts, ids, signature)``.

    - ``ck``: class key = hash of the sorted distinct-token-hash set
    - ``ts``: the sorted token-hash array (for exact Jaccard verification)
    - ``ids``: sorted member doc ids
    - ``signature``: token-set MinHash signature (``n_hashes`` mins)

    This is the relation a production pipeline PERSISTS (e.g. as a
    `LakeTable` keyed/bucketed by ``ck``): each new load probes it via
    :func:`batch_vs_corpus_dedup` and appends its own novel classes, so
    corpus text is never re-tokenized after first ingest.  The reference has
    no incremental operator — its merge dedup is key-equality only
    (SURVEY §2.2 W3); content-level incremental dedup is what a 100 TB
    training-data pipeline actually runs on every load.

    ONE shuffle total (the class groupBy): the signature is computed
    map-side OVER THE CLASS ROW via nested higher-order transforms — after
    exact-duplicate collapse a class's token set is small and classes are
    far fewer than docs, so the interpreted-HOF cost is negligible while an
    explode + second groupBy + join would triple the stage count.
    """
    toks = fan_out(df).selectExpr(
        id_col,
        f"array_sort(array_distinct(transform({_tokens_sql(text_col)}, "
        "t -> xxhash64(t)))) AS ts",
    )
    classes = (
        toks.selectExpr(id_col, "xxhash64(concat_ws(',', ts)) AS ck", "ts")
        .groupBy("ck")
        .agg(
            F.first("ts").alias("ts"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
    )
    return classes.selectExpr(
        "ck",
        "ts",
        "ids",
        f"transform(sequence(0, {n_hashes - 1}), "
        "i -> array_min(transform(ts, s -> xxhash64(CAST(i AS INT), s)))) AS signature",
    )


def write_dedup_index(table, corpus: DataFrame, text_col: str, id_col: str, n_hashes: int = 64):
    """Materialize :func:`build_dedup_index` into a LakeTable — the
    persisted form a continuous-ingestion pipeline maintains (the module
    docstring's "production pipeline PERSISTS this relation", made real).
    The table gets per-file ``ck`` [min,max] stats and snapshot history
    like any other table; returns the created snapshot."""
    idx = build_dedup_index(corpus, text_col, id_col, n_hashes)
    files = table.stage_dataframe(idx)
    return table.commit(files, idx.schema, "create", table.current_version())


def append_novel_classes(
    table, batch: DataFrame, text_col: str, id_col: str, n_hashes: int = 64
):
    """Per-load index maintenance: append the batch's token-set classes
    whose ``ck`` is NOT yet stored.  Cost shape at corpus scale:

    - membership = ONE map-side scan of the index (broadcast semi-join of
      the batch's class keys — zero corpus shuffle),
    - the append is a delta commit (parent manifests by reference).

    A batch doc whose class already exists is a DUP — it is reported by
    :func:`batch_vs_corpus_dedup` at probe time and deliberately NOT added
    (canonical ids = first ingest); future identical docs keep matching the
    original class.  Returns the new snapshot (or the current one when the
    batch brings nothing novel)."""
    bidx = build_dedup_index(batch, text_col, id_col, n_hashes)
    probe = F.broadcast(bidx.select("ck").distinct())
    known = table.read().select("ck").join(probe, "ck", "leftsemi")
    novel = bidx.join(F.broadcast(known), "ck", "left_anti")
    snap = table.snapshot()
    new_files = table.stage_dataframe(novel)
    if not new_files:
        return snap
    return table.commit(
        None,
        snap.schema,
        "append",
        snap.version,
        new_files=new_files,
        summary={"novel-classes": sum(f.rows for f in new_files)},
    )


def _band_index(index: DataFrame, bands: int) -> DataFrame:
    """(ck, band, bucket) rows from stored signatures — pure map-side."""
    rpb = f"CAST(size(signature) / {bands} AS INT)"
    return index.selectExpr(
        "ck",
        f"explode(transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
        f"xxhash64(b, concat_ws(',', slice(signature, b * {rpb} + 1, {rpb}))) AS bucket))) AS bb",
    ).selectExpr("ck", "bb.band", "bb.bucket")


def batch_vs_corpus_dedup(
    batch: DataFrame,
    corpus_index: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 32,
    strategy: str = "lsh",
) -> DataFrame:
    """Incremental near-dup check of a NEW load against an EXISTING corpus.

    The realistic continuous-ingestion shape: dedup each arriving batch
    against everything already ingested WITHOUT re-pairing the corpus with
    itself.  ``corpus_index`` is a :func:`build_dedup_index` relation
    (persisted once, appended per load).

    Scale plan (batch ≪ corpus, the production regime):

    - the batch's class index is built inline — O(batch) work only — and
      eagerly checkpointed (it feeds 3 plan branches; lazy persists race);
    - identical matches are a class-key equi-join with the BATCH side
      broadcast: the corpus index is scanned map-side, zero corpus shuffle;
    - ``strategy='lsh'`` (production default): near-dup candidates come
      from banding both signature sets and joining on (band, bucket) with
      the batch side broadcast — again map-side over the corpus index scan;
      only candidates pay the exact token-set Jaccard check, so the output
      is exact-Jaccard pairs (miss p ≤ (1-t²)^bands per pair, ≈ 4e-15 at
      t = 0.8 with 32 bands — deterministically exact on any fixed corpus,
      which is what lets a brute-force cross-side SQL oracle hash-match);
    - ``strategy='allpairs'``: every (corpus-class × batch-class) pair pays
      the exact check directly via a broadcast nested-loop join.  Right
      when the vocabulary is so small that signatures collide everywhere
      (banding proposes ~all pairs and its machinery is pure overhead — the
      same corpus statistic :func:`token_set_similarity_join` adapts on),
      or when the batch's class count is tiny.  Still zero corpus shuffle;
      EXACT at any recall by construction;
    - ``strategy='bitmask'``: when the combined vocabulary fits in 64
      distinct tokens, every class's token set becomes one BIGINT and the
      per-pair check collapses to two ``bit_count`` ops inside whole-stage
      codegen — ~50× cheaper per pair than array intersect/union, exact at
      every scale.  Falls back to 'allpairs' if the vocabulary outgrows 64;
    - ``strategy='auto'``: one O(1)-output vocabulary probe picks
      'bitmask' (≤ 64 tokens) or 'lsh' — runtime re-planning at operator
      grain, same philosophy as AQE.

    Batch-internal duplicates are a different op (run
    :func:`minhash_verified_pairs` / :func:`token_set_similarity_join` on
    the batch alone).

    Returns (corpus_id, batch_id, jaccard).
    """
    bidx = build_dedup_index(batch, text_col, id_col, n_hashes).localCheckpoint(
        eager=True
    )

    # 1) identical content: same class key on both sides → Jaccard 1.0
    ident = (
        corpus_index.select("ck", F.col("ids").alias("corpus_ids"))
        .join(F.broadcast(bidx.select("ck", F.col("ids").alias("batch_ids"))), "ck")
        .select(
            F.explode("corpus_ids").alias("corpus_id"),
            "batch_ids",
        )
        .select("corpus_id", F.explode("batch_ids").alias("batch_id"))
        .withColumn("jaccard", F.lit(1.0))
    )

    # 2) near-dup pairs between DIFFERENT classes
    ca = corpus_index.select(
        "ck", F.col("ts").alias("ta"), F.col("ids").alias("corpus_ids")
    )
    cb = bidx.select(
        F.col("ck").alias("bck"), F.col("ts").alias("tb"), F.col("ids").alias("batch_ids")
    )
    vocab = None
    if strategy in ("auto", "bitmask"):
        # ONE vocabulary probe serves both the auto decision and the
        # bitmask bit assignment — probing twice re-ran the full ts-explode
        # distinct over the corpus index
        vocab = (
            corpus_index.select(F.explode("ts").alias("h"))
            .union(bidx.select(F.explode("ts").alias("h")))
            .distinct()
            .limit(65)
            .collect()
        )
    if strategy == "auto":
        strategy = "bitmask" if len(vocab) <= 64 else "lsh"
    if strategy == "bitmask" and len(vocab) > 64:
        strategy = "allpairs"
    STRATEGY_TRACE["batch_vs_corpus_dedup"] = strategy
    if strategy == "bitmask":
        bit_of = {h: i for i, h in enumerate(sorted(r.h for r in vocab))}
        mapping = F.create_map(
            *[x for h, i in bit_of.items() for x in (F.lit(h), F.lit(i))]
        )

        def _masked(idx_df, key):
            # class-level explode + codegen shiftleft sum: a tiny shuffle
            # over class rows (already ≪ docs), keeping the whole mask
            # build inside whole-stage codegen
            return (
                idx_df.select(key, F.col("ids").alias(f"{key}_ids"), F.explode("ts").alias("h"))
                .select(key, f"{key}_ids", mapping[F.col("h")].alias("bit"))
                .groupBy(key, f"{key}_ids")
                .agg(F.sum(F.expr("shiftleft(1L, bit)")).alias(f"{key}_mask"))
            )

        cm = _masked(corpus_index.select("ck", "ts", "ids"), "ck")
        bm = _masked(cb.selectExpr("bck AS ck", "tb AS ts", "batch_ids AS ids"), "ck").selectExpr(
            "ck AS bck", "ck_ids AS bck_ids", "ck_mask AS bck_mask"
        )
        xm, ym = F.col("ck_mask"), F.col("bck_mask")
        verified = (
            cm.join(F.broadcast(bm), F.col("ck") != F.col("bck"))
            .withColumn(
                "jaccard",
                F.bit_count(xm.bitwiseAND(ym))
                / F.bit_count(xm.bitwiseOR(ym)).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(F.explode("ck_ids").alias("corpus_id"), "bck_ids", "jaccard")
            .select("corpus_id", F.explode("bck_ids").alias("batch_id"), "jaccard")
        )
        return ident.unionByName(verified)
    if strategy == "allpairs":
        pairs = ca.join(F.broadcast(cb), F.col("ck") != F.col("bck"))
    elif strategy == "lsh":
        cands = (
            _band_index(corpus_index, bands)
            .join(
                F.broadcast(
                    _band_index(bidx, bands).selectExpr("ck AS bck", "band", "bucket")
                ),
                ["band", "bucket"],
            )
            .filter(F.col("ck") != F.col("bck"))
            .select("ck", "bck")
            .distinct()
        )
        pairs = cands.join(ca, "ck").join(F.broadcast(cb), "bck")
    else:
        raise ValueError(f"unknown strategy {strategy!r} (expected 'lsh' or 'allpairs')")
    verified = (
        pairs.withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.explode("corpus_ids").alias("corpus_id"), "batch_ids", "jaccard")
        .select("corpus_id", F.explode("batch_ids").alias("batch_id"), "jaccard")
    )
    return ident.unionByName(verified)


def simhash(df: DataFrame, text_col: str, id_col: str, hash_mode: str = "xx") -> DataFrame:
    """64-bit SimHash per doc: bit b of the hash is the sign of
    sum(±1 over tokens, + if token-hash bit b set) — equivalently, bit b is
    set iff MORE than half the tokens have bit b of their hash set.

    Lane-packed aggregation: instead of 64 separate sum columns (which blow
    past the codegen field budget and fall back to interpreted hash
    aggregation), each of 32 longs accumulates TWO 32-bit set-bit counters.
    Per-token work is shifts/masks only, the agg buffer is 33 fields (inside
    whole-stage codegen), and the per-lane counts can't overflow: a lane
    caps at 2^32 tokens and a single Spark row can't hold that much text.
    Bit b of the result = (2 × count_b > n_tokens), identical to the ±1-sum
    sign (verified bit-exact against the naive form).  One shuffle on the
    doc id; Hamming distance between simhashes then approximates cosine
    similarity of token profiles.
    """
    # the wide bit-twiddling trees are built as SQL strings parsed JVM-side
    # in ONE call each — assembling them Column-by-Column costs hundreds of
    # py4j round trips (~1.5s of driver time per plan, more than the query's
    # own execution at small SF); likewise the 33 aggregate buffers ride in
    # ONE struct-valued agg expression (a 33-way .agg() costs ~0.5s analysis)
    tok = (
        fan_out(df)
        .selectExpr(id_col, f"explode({_tokens_sql(text_col)}) AS t")
        .selectExpr(id_col, f"{_token_hash_sql('t', hash_mode)} AS th")
    )
    lanes, lane_bits = 2, 32
    groups = 64 // lanes
    packs = []
    for g in range(groups):
        terms = []
        for lane in range(lanes):
            b = g * lanes + lane
            terms.append(f"shiftleft(shiftrightunsigned(th, {b}) & 1, {lane * lane_bits})")
        packs.append(f"sum({' + '.join(terms)}) AS p{g}")
    agg = tok.groupBy(id_col).agg(
        F.expr(f"struct(count(1) AS n, {', '.join(packs)}) AS s")
    )
    mask = (1 << lane_bits) - 1
    or_bits = []
    sign = None
    for g in range(groups):
        for lane in range(lanes):
            b = g * lanes + lane
            cnt = f"(shiftrightunsigned(s.p{g}, {lane * lane_bits}) & {mask})"
            if b < 63:
                or_bits.append(f"shiftleft(CAST({cnt} * 2 > s.n AS BIGINT), {b})")
            else:  # sign bit: adding -2^63 sets it without long overflow
                sign = f"(CASE WHEN {cnt} * 2 > s.n THEN {-(2 ** 63)}L ELSE 0L END)"
    out = f"(({' | '.join(or_bits)}) + {sign})"
    return agg.select(F.col(id_col), F.expr(f"{out} AS simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    hash_mode: str = "xx",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 64-bit hash into ``max_hamming + 1``
    chunks — any pair within the Hamming budget must agree EXACTLY on at
    least one chunk, so candidates come from equi-joins on (chunk_idx,
    chunk_value) and only candidates pay the exact ``bit_count(a XOR b)``
    check.  Same shuffle shape as MinHash banding: one groupBy on the chunk
    key with a per-bucket size cap, never an all-pairs product.

    Returns (a, b, hamming) with a < b.
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sh = simhash(df, text_col, id_col, hash_mode=hash_mode)
    # unsigned-shift via shiftrightunsigned keeps the top chunk sane
    chunks = ", ".join(
        f"struct({i} AS band, shiftrightunsigned(simhash, {i * width}) & {mask}L AS bucket)"
        for i in range(n_chunks)
    )
    banded = sh.selectExpr(
        id_col, "simhash", f"explode(array({chunks})) AS bb"
    ).selectExpr(id_col, "simhash", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.expr(f"sort_array(collect_list(struct({id_col} AS i, simhash))) AS ms"))
        .filter(F.expr(f"size(ms) BETWEEN 2 AND {max_bucket}"))
    )
    pairs = buckets.selectExpr(
        "explode(flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), y -> "
        "struct(x.i AS a, y.i AS b, bit_count(x.simhash ^ y.simhash) AS hamming))))) AS p"
    )
    return (
        pairs.select("p.a", "p.b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def char_ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact character-n-gram Jaccard over candidate pairs — the
    tokenization-free near-dup measure (robust to punctuation/whitespace
    edits that break word tokens).

    Same verification-kernel contract as :func:`token_jaccard_pairs`:
    all-pairs form for bounded candidate sets; at scale candidates come
    from MinHash-LSH banding over the same n-gram sets.
    """
    grams = F.array_distinct(
        F.when(
            F.length(text_col) < n, F.array(F.col(text_col))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(text_col) - (n - 1)),
                lambda i: F.col(text_col).substr(i, F.lit(n)),
            )
        )
    )
    t = df.select(F.col(id_col), grams.alias("gr"))
    a = t.select(F.col(id_col).alias("a"), F.col("gr").alias("ga"))
    b = t.select(F.col(id_col).alias("b"), F.col("gr").alias("gb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ga", "gb"))
            / F.size(F.array_union("ga", "gb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def token_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact token-set Jaccard over candidate pairs.

    NOTE: this is the *verification* kernel — the all-pairs form is O(n²)
    and only for bounded candidate sets; at scale pairs come from
    minhash_lsh_candidates first.
    """
    t = df.select(
        F.col(id_col), F.array_distinct(_tokens(text_col)).alias("toks")
    )
    a = t.select(F.col(id_col).alias("a"), F.col("toks").alias("ta"))
    b = t.select(F.col(id_col).alias("b"), F.col("toks").alias("tb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def substring_dup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 10,
) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): a
    ``window``-token span is *duplicated* when its exact text occurs in ≥ 2
    distinct documents; each doc reports how much of it is duplicated
    surface.  The paper's suffix-array pass is single-machine; the
    distributed equivalent is window fingerprinting — map-side rolling
    windows hashed to longs, then ONE shuffle keyed by window hash: an
    explicit hash repartition feeds the (wh, id) aggregate and the
    distinct-doc count window in place (no countDistinct branch, no join
    back, no second pass over the extraction).

    Docs shorter than ``window`` tokens have no windows (n_windows = 0,
    dup_fraction 0.0) — the paper's convention.

    Returns (id, n_windows, n_dup_windows, dup_fraction).
    """
    from pyspark.sql.window import Window

    toks = fan_out(df).selectExpr(
        id_col, f"{_tokens_sql(text_col)} AS _toks"
    )
    w = toks.selectExpr(
        id_col,
        f"explode(CASE WHEN size(_toks) < {window} THEN array() "
        f"ELSE transform(sequence(1, size(_toks) - {window} + 1), "
        f"i -> xxhash64(concat_ws(' ', slice(_toks, i, {window})))) END) AS wh",
    )
    # ONE wh-keyed exchange for the whole profile (guide §2.4): the explicit
    # repartition("wh") partitioning satisfies both the (wh, id) aggregate's
    # and the wh-window's clustering requirement, so dup detection no longer
    # needs a separate countDistinct branch + join back — which re-ran the
    # tokenize/window-hash extraction a second time and shuffled the full
    # window stream twice more ((wh, id) partial-distinct + join exchange).
    # _nd (distinct docs per wh) over the (wh, id)-unique rows is exactly
    # the old countDistinct; the per-doc sums are integer-identical.
    wc = (
        w.repartition("wh")
        .groupBy("wh", id_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_nd", F.count(F.lit(1)).over(Window.partitionBy("wh")))
    )
    per_doc = wc.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("_nd") >= 2, F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_windows"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.col("n_dup_windows") / F.col("n_windows").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 10,
) -> DataFrame:
    """Exact-substring DEDUPLICATION — the removal pass of Lee et al. 2021
    (arXiv:2107.06499 §4: cut every repeated span, keep one occurrence),
    where :func:`substring_dup_stats` is only the profile.

    Every ``window``-token span whose exact text occurs ≥ 2 times in the
    corpus (across OR within documents) is removed from every occurrence
    except the globally FIRST (minimal ``(id, pos)`` — deterministic); a
    token survives iff no removed span covers it.  Output text is the
    surviving tokens single-space joined (tokenization is
    whitespace-normalizing, the analogue of the paper's byte-exact pass
    over normalized text).

    Distribution shape: map-side window extraction, ONE shuffle keyed by
    the window text — an explicit hash repartition under window functions
    that pick the keeper (``min(struct(id, pos))``) and count occurrences
    in place (no groupBy branch, no join back, no second pass over the
    extraction) — then per-document token filtering as linear
    higher-order functions — zero UDFs, zero driver collection.

    Returns ``(id, text, n_tokens, n_removed_tokens)``; docs shorter than
    ``window`` tokens pass through with zero removals.
    """
    toks = fan_out(df).selectExpr(id_col, f"{_tokens_sql(text_col)} AS _toks")
    w = toks.selectExpr(
        id_col,
        f"explode(CASE WHEN size(_toks) < {window} THEN "
        f"CAST(array() AS array<struct<pos:int,win:string>>) "
        f"ELSE transform(sequence(1, size(_toks) - {window} + 1), "
        f"i -> struct(CAST(i AS INT) AS pos, "
        f"concat_ws(' ', slice(_toks, i, {window})) AS win)) END) AS _w",
    ).select(id_col, F.col("_w.pos").alias("pos"), F.col("_w.win").alias("win"))
    # ONE win-keyed exchange for keeper pick + occurrence count (guide
    # §2.4): the old groupBy(win) + join-back form re-ran the window
    # extraction a second time for the join's probe side and shuffled the
    # full window stream through a second exchange.  A window over the
    # explicit repartition("win") computes the same min(struct) keeper and
    # count in place — filter semantics identical row-for-row.
    from pyspark.sql.window import Window

    ww = Window.partitionBy("win")
    removals = (
        w.repartition("win")
        .withColumn(
            "_keeper", F.min(F.struct(F.col(id_col), F.col("pos"))).over(ww)
        )
        .withColumn("_n", F.count(F.lit(1)).over(ww))
        .filter(
            (F.col("_n") >= 2)
            & ~(
                (F.col(id_col) == F.col(f"_keeper.{id_col}"))
                & (F.col("pos") == F.col("_keeper.pos"))
            )
        )
        .select(id_col, "pos")
    )
    spans = removals.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("_starts")
    )
    return (
        toks.join(spans, id_col, "left")
        .selectExpr(
            id_col,
            "_toks",
            "coalesce(_starts, CAST(array() AS array<int>)) AS _starts",
        )
        .selectExpr(
            id_col,
            "_toks",
            # surviving token indices: not covered by any removed span
            f"filter(sequence(1, size(_toks)), t -> NOT exists(_starts, "
            f"s -> t >= s AND t <= s + {window} - 1)) AS _kept",
        )
        .selectExpr(
            id_col,
            f"concat_ws(' ', transform(_kept, t -> element_at(_toks, t))) AS {text_col}",
            "size(_toks) AS n_tokens",
            "size(_toks) - size(_kept) AS n_removed_tokens",
        )
    )
