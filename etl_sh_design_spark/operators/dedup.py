"""Deduplication operators (training-data-pipeline extension layer).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
table — each built from Catalyst-optimizable primitives (explode /
groupBy / self-join), no Python in the hot path.

Scale notes (the 100 TB story):
- exact: one hash-shuffle on a 32-hex key; partial aggregation makes
  the shuffle |groups|-sized.
- n-gram Jaccard: the shingle self-join is the quadratic hazard —
  cost is sum over shingles of count^2. Hot shingles must be capped
  (`max_shingle_freq`) exactly like skew-salting; the cap bounds join
  fan-out at freq^2 per shingle.
- MinHash/LSH: linear in corpus size; pair generation only happens
  inside LSH buckets (band collisions), which is the point of LSH.
- SimHash: linear; the bit explosion is bits x tokens but map-side.

Cross-engine hashing: md5 -> first 15 hex chars -> int64, identical in
Spark (`conv(.,16,10)`) and DuckDB (`CAST('0x'||. AS BIGINT)`), so every
operator here is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sh_design_spark.functions.text import content_hash


def md5_int64(col) -> F.Column:
    """Stable 60-bit int from md5 — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


MD5_INT64_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# Size-measured dispatch bound for the corpus-LINEAR side tables this
# module joins against the doc-shingle incidence (distinct-shingle
# vocabulary, cold-shingle key set, per-doc size table). Catalyst's
# static estimate of a post-aggregate table is tiny, so left to
# statistics the planner picks a broadcast join — measured at the
# round-12 `--ngram-100x` probe: at the 100x corpus (2M docs) the
# vocabulary broadcast collect aborts at spark.driver.maxResultSize
# (>1 GiB of task results). Below the bound we broadcast EXPLICITLY
# (the small-scale win); above it a shuffle_hash hint overrides the
# stats-driven broadcast so the join plans as a shuffle. 1M rows x
# ~200 B (shingle string + 16 int64 hashes) ~= 200 MB serialized —
# same class as similarity.EMBED_BROADCAST_MAX_ROWS. Both paths are
# result-identical (join strategy only); forced-path parity is
# golden-pinned (tests/test_r12.py).
DEDUP_SIDE_BROADCAST_MAX_ROWS = 1_000_000


def _dispatch_build_side(side: DataFrame, n_rows: int, max_rows: int):
    """Broadcast under the bound, shuffle-hash-hint above it."""
    if n_rows <= max_rows:
        return F.broadcast(side)
    return side.hint("shuffle_hash")


# ------------------------------------------------------------ exact dedup
def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by normalized content hash: one row per content
    group -> (content_key, canonical_id, n_dups)."""
    return (
        df.select(F.col(id_col), content_hash(text_col).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --------------------------------------------------------------- shingles
def word_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc -> (id, shingle).

    The token array is projected ONCE before the gram transform:
    inlining the split expression into the lambda makes Catalyst
    re-evaluate the regex split per gram element (~3x tokens per row
    — measured 6-8x slower at sf0.1).

    Dedup is IN-ROW (`array_distinct` on the gram array), not a
    `.distinct()` shuffle: shingle duplication is per-document, so
    under the operator's contract that `id_col` is unique per input
    row (true of every engine corpus — doc_id / doc_id + 1000000
    unions) the row set is identical (asserted both ways by
    tests) while the full Exchange of the (id, shingle) incidence
    disappears — measured 1.27 -> 0.38 s on the sf0.1 mutated corpus,
    and at 100 TB the incidence shuffle is corpus x ~|tokens| rows."""
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    grams = (
        f"CASE WHEN size(toks) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'toks[i + {j}]' for j in range(n))}))) "
        f"ELSE array() END"
    )
    return (
        df.select(F.col(id_col), F.expr(toks).alias("toks"))
        .select(F.col(id_col), F.explode(F.expr(grams)).alias("shingle"))
    )


def word_shingles_sql(source: str, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> str:
    """DuckDB twin of `word_shingles` (1-based list indexing)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '\\s+'), t -> t != '')"
    parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
SELECT DISTINCT {id_col} AS {id_col}, shingle
FROM (
  SELECT {id_col}, unnest(list_transform(range(1, len(toks) - {n - 2}),
                                         i -> concat_ws(' ', {parts}))) AS shingle
  FROM (SELECT {id_col}, {toks} AS toks FROM {source})
)
"""


# -------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    side_broadcast_max_rows: int = DEDUP_SIDE_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard:
    (id_a, id_b, n_common, jaccard) with jaccard >= threshold.

    Shingles hotter than `max_shingle_freq` are dropped before the
    self-join (skew cap — at 100 TB a stop-word shingle would otherwise
    generate freq^2 join rows).

    The self-join keys on the 60-bit md5 of the shingle, not the
    ~30-byte string — ~4x less exchange volume for the quadratic
    stage. On local[32] this is wall-clock neutral (CPU-bound; the
    hash cost offsets the smaller exchange) — the win is at cluster
    scale where the quadratic stage's shuffle is network-bound.
    Results are a function of per-pair match COUNTS only, and the
    same hash is applied on the oracle side, so even a (~1e-9 at
    1e5-shingle vocabulary) collision is cross-engine identical."""
    sh = (
        word_shingles(df, id_col, text_col, n)
        .select(F.col(id_col), md5_int64(F.col("shingle")).alias("shingle"))
        .cache()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    # The cold-key set and the per-doc size table are both corpus-
    # LINEAR; dispatch their joins by measured size (module constant
    # above — Catalyst's static post-aggregate estimate would pick a
    # broadcast that breaks past ~1 GiB). The counts materialize the
    # localCheckpoints the joins then read, so neither is an extra
    # pass over the incidence.
    cold = (
        freq.filter(F.col("freq") <= max_shingle_freq)
        .select("shingle")
        .localCheckpoint(eager=False)
    )
    n_cold = cold.count()
    sh_cold = sh.join(
        _dispatch_build_side(cold, n_cold, side_broadcast_max_rows),
        "shingle",
        "left_semi",
    )

    a = sh_cold.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh_cold.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sizes.localCheckpoint(eager=False)
    n_docs = sizes.count()
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(_dispatch_build_side(sa, n_docs, side_broadcast_max_rows), "id_a")
        .join(_dispatch_build_side(sb, n_docs, side_broadcast_max_rows), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))
    )


# ------------------------------------------------------------- MinHash/LSH
def minhash_signatures_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
    vocab_broadcast_max_rows: int = DEDUP_SIDE_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Array-form signatures: (id, sig array<bigint> of length k).

    One row per doc instead of k: the per-seed mins are computed as k
    parallel min-aggregates over the doc-shingle incidence (single
    shuffle keyed by doc), not a (doc, seed)-keyed long table — at
    scale this divides shuffle rows AND groupBy groups by k.

    The vocabulary join is size-dispatched (see
    DEDUP_SIDE_BROADCAST_MAX_ROWS): the distinct-shingle table is
    corpus-linear, and the round-12 100x probe measured the
    stats-driven broadcast of it aborting at driver maxResultSize —
    above the bound the join plans as a shuffle, bit-identically. The
    vocabulary count materializes the localCheckpoint the join then
    reads, so the dispatch is not an extra pass."""
    sh = word_shingles(df, id_col, text_col, n)
    vocab = sh.select("shingle").distinct().localCheckpoint(eager=False)
    n_vocab = vocab.count()
    shingle_hashes = vocab.select(
        "shingle",
        F.array(
            *[
                md5_int64(F.concat_ws(":", F.lit(str(s)), F.col("shingle")))
                for s in range(k)
            ]
        ).alias("hs"),
    )
    return (
        sh.join(
            _dispatch_build_side(
                shingle_hashes, n_vocab, vocab_broadcast_max_rows
            ),
            "shingle",
        )
        .groupBy(id_col)
        .agg(F.array(*[F.min(F.col("hs")[i]) for i in range(k)]).alias("sig"))
    )


def minhash_signatures_mapside(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    n: int = 3,
    keep_cols: bool = False,
) -> DataFrame:
    """Per-ROW MinHash signatures — zero shuffle, bit-identical to
    `minhash_signatures_wide` (asserted by tests/test_properties.py).

    The whole signature is computed inside one projection: token array
    -> distinct in-row shingle array (`transform(sequence)`) -> per-seed
    `array_min(transform(...md5...))`. No explode, no distinct, no
    groupBy — the narrow-only formulation.

    Trade-off vs the wide form (which this does NOT replace): wide
    hashes each DISTINCT corpus shingle once (k md5s per vocabulary
    entry) at the price of a doc-shingle shuffle + join; map-side
    re-hashes per occurrence (k md5s per doc-shingle incidence, ~10-50x
    more md5 calls) but touches no exchange at all. At 100 TB the
    map-side form wins when the cluster is network-bound and loses when
    CPU-bound — and it is the ONLY form usable under Structured
    Streaming, where an aggregation before a stateful dedup would chain
    two stateful operators.

    `keep_cols=True` carries every input column through
    (`with_signature_key` needs the full row next to its signature);
    docs with no n-gram (fewer than `n` tokens, or null text) are
    dropped exactly like the wide form drops them."""
    passthrough = [F.col(c) for c in df.columns] if keep_cols else [F.col(id_col)]
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    gram_parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    grams = (
        f"CASE WHEN size(toks) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', {gram_parts}))) ELSE array() END"
    )
    seed_mins = ", ".join(
        f"array_min(transform(grams, g -> "
        f"CAST(conv(substring(md5(concat_ws(':', '{s}', g)), 1, 15), 16, 10) AS BIGINT)))"
        for s in range(k)
    )
    # Filter on size(toks) >= n, NOT size(grams) > 0 (equivalent: the
    # distinct of a non-empty gram array is non-empty, and null text
    # yields null toks -> size -1 -> dropped either way). The grams form
    # is a performance trap: predicate pushdown inlines the WHOLE alias
    # chain into the scan-level filter, and alias inlining into a lambda
    # re-evaluates split(lower(text)) per ELEMENT ACCESS (~3x grams per
    # row) — measured 15x slower on the sf0.1 corpus. The toks form
    # pushes down as one tokenize per row.
    return (
        df.select(*passthrough, F.expr(toks).alias("toks"))
        .filter(F.expr(f"size(toks) >= {n}"))
        .select(*passthrough, F.expr(grams).alias("grams"))
        .select(*passthrough, F.expr(f"array({seed_mins})").alias("sig"))
    )


def with_signature_key(docs: DataFrame, k: int = 8, n: int = 3) -> DataFrame:
    """Every input column plus a deterministic near-exact dedup key: the
    k-hash map-side MinHash signature rendered as one comma-joined
    string (a scalar group/dedup key). Docs with no n-gram are dropped
    (they cannot carry a signature)."""
    sig = minhash_signatures_mapside(docs, k=k, n=n, keep_cols=True)
    return sig.withColumn(
        "sig_key", F.concat_ws(",", F.expr("transform(sig, x -> CAST(x AS STRING))"))
    ).drop("sig")


def minhash_signatures_mapside_sql(
    source: str, id_col: str = "doc_id", text_col: str = "text", k: int = 16, n: int = 3
) -> str:
    """DuckDB twin of `minhash_signatures_mapside` (1-based lists; same
    per-occurrence md5 formula, so the mins are cross-engine equal)."""
    toks = f"list_filter(string_split_regex(lower({text_col}), '\\s+'), t -> t != '')"
    parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    grams = (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len(toks) - {n - 2}), "
        f"i -> concat_ws(' ', {parts}))) ELSE [] END"
    )
    seed_mins = ", ".join(
        f"list_min(list_transform(grams, g -> "
        f"CAST('0x' || substr(md5('{s}:' || g), 1, 15) AS BIGINT)))"
        for s in range(k)
    )
    return f"""
SELECT {id_col}, [{seed_mins}] AS sig FROM (
  SELECT {id_col}, {grams} AS grams FROM (
    SELECT {id_col}, {toks} AS toks FROM {source}))
WHERE len(grams) > 0
"""


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    band_rows: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.5,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash LSH near-dup pairs.

    signatures -> band keys (band_rows hashes concatenated) -> bucket
    self-join per band -> distinct candidate pairs -> estimated
    jaccard = fraction of agreeing minhashes over all k.
    Returns (id_a, id_b, est_jaccard >= min_est_jaccard).

    Runs entirely on array-form signatures: band keys are slices of
    the signature array (no per-band shuffle) and the jaccard estimate
    is a zip_with over the two arrays carried through the bucket join
    (no k-way explode + re-aggregate). Shuffle count: 2 (signature
    groupBy, bucket self-join) vs 5 in the long-format plan.

    The estimate and threshold are applied map-side BEFORE the
    candidate distinct (est_jaccard is a pure function of the pair, so
    band duplicates agree): the distinct exchange carries only
    (id_a, id_b, est_jaccard) for pairs that already pass the
    threshold — not the two k-element signature arrays for every
    banded candidate."""
    # `sig` lets callers thread a shared/memoized signature table in
    # (one signature pass per session for the whole eval+dedup family)
    if sig is None:
        sig = minhash_signatures_wide(df, id_col, text_col, k, n).cache()

    n_bands = -(-k // band_rows)  # ceil
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col("sig")[i].cast("string")
                    for i in range(j * band_rows, min((j + 1) * band_rows, k))
                ],
            ).alias("band_key"),
        )
        for j in range(n_bands)
    ]
    banded = sig.select(
        F.col(id_col), "sig", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        F.col(id_col), "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "band_key")
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("est_jaccard", agree / F.lit(float(k)))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
        .distinct()
    )


# ----------------------------------------------------------------- SimHash
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Per-doc SimHash over word tokens -> (id, simhash).

    bit_b(doc) = sign(sum over tokens of (2*bit_b(h(token)) - 1));
    simhash = sum(bit_b << b)."""
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    tok = df.select(F.col(id_col), F.explode(F.expr(toks)).alias("token"))
    tok = tok.withColumn("h", md5_int64(F.col("token")))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    contrib = (
        tok.select(F.col(id_col), F.col("h"), bit)
        .withColumn("s", F.expr("(shiftright(h, b) & 1) * 2 - 1"))
        .groupBy(id_col, "b")
        .agg(F.sum("s").alias("tot"))
    )
    return contrib.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("tot") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Bucketed into max_hamming+1 bit-bands (pigeonhole: d differing bits
    over d+1 bands leave at least one band identical), so candidate
    generation is an equi-join on (band, key) — the full cross join
    never happens, and the result is EXACTLY the cross-join result
    because candidates are a guaranteed superset, filtered exactly."""
    sh = simhash(df, id_col, text_col, bits).cache()
    n_bands = max_hamming + 1
    w = -(-bits // n_bands)  # ceil
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            (
                F.floor(F.col("simhash") / (1 << (j * w))).cast("bigint") % (1 << w)
            ).alias("key"),
        )
        for j in range(n_bands)
    ]
    banded = sh.select(
        F.col(id_col), "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        F.col(id_col), "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"), "band", "key")
    # hamming filter BEFORE the distinct: a pair found in several bands
    # is deduped after filtering, so the distinct shuffles only the
    # ~|survivors| rows, not every banded candidate (50x fewer at 20k
    # docs with 7-bit band keys).
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return pairs
