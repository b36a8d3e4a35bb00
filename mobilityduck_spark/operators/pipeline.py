"""End-to-end corpus curation: the composition a training-data pipeline
actually runs over 100 TB of raw documents —

    quality filter → language filter → exact dedup → near-dup
    cluster dedup → split assignment

producing (a) a per-document manifest (keep/drop + stage + cluster +
split — the artifact downstream training jobs consume) and (b) the
stage funnel (docs surviving each stage — the monitoring artifact).

Every stage is one of the already-oracle-checked operators from
text.py / dedup.py / components.py; this module only composes them, in
the order that minimizes work at scale: cheap scan-speed filters first
(quality, language — pure JVM expressions), the shuffling stages
(fingerprint groupBy, n-gram self-join, connected components) only
over survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import components as CC
from . import dedup as DD
from . import text as TX
from ..pins import pin


# stage-boundary pins (call-scoped, see pins.py): the funnel output is a
# UNION of one aggregate per stage, so without a cache each stage
# re-derives every upstream stage's subtree — the n-gram join + CC
# closure would run ~5× for the 9-stage production funnel. At 100 TB
# these are the natural materialization points a real pipeline would
# write to storage anyway.
def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    keep_langs: tuple = ("en", "de", "fr"),
    min_tokens: int = 20,
    max_dup_word_frac: float = 0.6,
    jaccard_threshold: float = 0.5,
    ngram_df_cap: int = 64,
    train: float = 0.8,
    val: float = 0.1,
    bench_docs: DataFrame | None = None,
    contam_ngram: int = 3,
    contam_min_hits: int = 2,
    mixture_fracs: dict | None = None,
    mixture_salt: str = "mix",
    pack_capacity: int | None = None,
    pack_shards: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Run the curation funnel. Returns (manifest, funnel):

    manifest: one row per input doc — (id, keep BOOLEAN, drop_stage
    STRING or NULL, cluster_id BIGINT or NULL, split STRING or NULL).
    funnel: (stage STRING, n_docs BIGINT) — docs surviving each stage,
    plus one `split:*` row per split among the final keep set.

    Near-dup blocking uses (lang, length-bucket) with the same df-cap
    as doc_ngram_jaccard; cluster representative = min doc id.

    Optional production stages (each enabled by its argument, inserted
    between near-dup dedup and the split; stage numbers shift so the
    default funnel keeps its historical names):

    - `bench_docs`: benchmark decontamination — drop any surviving doc
      sharing >= `contam_min_hits` distinct `contam_ngram`-gram word
      shingles with the benchmark set. The bench gram table is
      broadcast (eval suites are tiny; the corpus side never shuffles).
    - `mixture_fracs`: data-mix reweighting via mixture_sample (exact
      per-stratum quotas by the salted-bucket rule). `mixture_salt`
      MUST differ from the split salt: with a shared salt the mixture
      keeps exactly the smallest buckets, and the split — a threshold
      on the same bucket — would then assign nearly everything to
      'train' (selection/assignment correlation).
    - `pack_capacity`: GPT-style sequence packing of the final 'train'
      split; the funnel gains a `pack_chunks` row counting the fixed-
      capacity training chunks produced (per-shard prefix scan,
      `pack_shards` independent partitions)."""
    base = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(text_col).alias("text"),
        F.col(lang_col).alias("lang"),
    )
    toks = base.select(
        "id", "lang", "text", TX.tokens("text").alias("w")
    )
    flagged = toks.select(
        "id",
        "lang",
        "text",
        (
            (F.size("w") >= min_tokens)
            & (TX.dup_word_fraction(F.col("w")) <= max_dup_word_frac)
        ).alias("q_ok"),
        F.col("lang").isin(*keep_langs).alias("l_ok"),
    )
    quality = flagged.filter(F.col("q_ok"))
    lang_ok = quality.filter(F.col("l_ok"))

    # exact dedup: keep the min id per normalized-md5 fingerprint
    fp = lang_ok.withColumn("fp", TX.fingerprint("text"))
    exact = fp.withColumn(
        "rep", F.min("id").over(Window.partitionBy("fp"))
    )
    exact_keep = pin(
        exact.filter(F.col("id") == F.col("rep")).select("id", "lang", "text")
    )

    # near-dup clusters over exact survivors: n-gram Jaccard pairs →
    # connected components → keep the cluster representative (min id)
    survivors = exact_keep.withColumn(
        "lb", (F.length("text") / 100).cast("long")
    )
    pairs = DD.ngram_jaccard_pairs_exploded(
        survivors,
        id_col="id",
        text_col="text",
        n=3,
        threshold=jaccard_threshold,
        block_cols=("lang", "lb"),
        max_gram_df=ngram_df_cap,
    ).select("id_a", "id_b")
    comp = CC.connected_components(pairs, src="id_a", dst="id_b")
    clustered = exact_keep.join(
        comp, exact_keep["id"] == comp["node"], "left"
    ).select(
        "id",
        F.coalesce("component", exact_keep["id"]).alias("cluster_id"),
    )
    near_keep = clustered.filter(F.col("id") == F.col("cluster_id"))
    # near-dup survivors with text/lang back (clustered carries ids
    # only); pinned — every later stage and funnel row reads from here
    kept = pin(exact_keep.join(near_keep.select("id"), "id"))

    # ------------------------- optional stage: benchmark decontamination
    if bench_docs is not None:
        bg = (
            bench_docs.select(TX.tokens(F.col(text_col)).alias("bw"))
            .filter(F.size("bw") >= contam_ngram)
            .select(
                F.explode(
                    F.array_distinct(TX.word_ngrams(F.col("bw"), n=contam_ngram))
                ).alias("gram")
            )
            .distinct()
        )
        cg = (
            kept.select("id", TX.tokens("text").alias("w"))
            .filter(F.size("w") >= contam_ngram)
            .select(
                "id",
                F.explode(
                    F.array_distinct(TX.word_ngrams(F.col("w"), n=contam_ngram))
                ).alias("gram"),
            )
        )
        contaminated = (
            cg.join(F.broadcast(bg), "gram")
            .groupBy("id")
            .agg(F.countDistinct("gram").alias("_hits"))
            .filter(F.col("_hits") >= contam_min_hits)
            .select("id")
        )
        decon_keep = pin(kept.join(contaminated, "id", "left_anti"))
    else:
        decon_keep = kept

    # ------------------------- optional stage: mixture reweighting
    if mixture_fracs is not None:
        mix_keep = pin(
            TX.mixture_sample(
                decon_keep,
                mixture_fracs,
                strata_col="lang",
                key_col="id",
                salt=mixture_salt,
                prefilter_margin=2.0,
            ).select("id", "lang", "text")
        )
    else:
        mix_keep = decon_keep

    final = mix_keep.withColumn(
        "split", TX.split_assign(F.col("id"), train=train, val=val)
    )

    # ------------------------------------------------------- manifest
    m = (
        flagged.select("id", "q_ok", "l_ok")
        .join(exact.select("id", F.lit(True).alias("e_in"),
                           (F.col("id") == F.col("rep")).alias("e_keep")),
              "id", "left")
        .join(clustered.select("id", "cluster_id"), "id", "left")
    )
    drop = (
        F.when(~F.col("q_ok"), F.lit("quality"))
        .when(~F.col("l_ok"), F.lit("language"))
        .when(~F.coalesce("e_keep", F.lit(False)), F.lit("exact_dup"))
        .when(F.col("cluster_id") != F.col("id"), F.lit("near_dup"))
    )
    if bench_docs is not None:
        m = m.join(decon_keep.select("id", F.lit(True).alias("d_ok")),
                   "id", "left")
        drop = drop.when(
            F.col("cluster_id").isNotNull()
            & ~F.coalesce("d_ok", F.lit(False)),
            F.lit("contaminated"),
        )
    if mixture_fracs is not None:
        m = m.join(mix_keep.select("id", F.lit(True).alias("m_ok")),
                   "id", "left")
        drop = drop.when(~F.coalesce("m_ok", F.lit(False)), F.lit("mixture"))
    manifest = (
        m.join(final.select("id", "split"), "id", "left")
        .select(
            "id",
            F.col("split").isNotNull().alias("keep"),
            drop.alias("drop_stage"),
            "cluster_id",
            "split",
        )
    )

    # --------------------------------------------------------- funnel
    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    # stages 0-2 in ONE conditional-aggregation scan: the raw count,
    # the quality count and the language count are all aggregates of
    # the same flagged relation, but as three separate stage() unions
    # each re-ran the tokenize scan over the full corpus (flagged is
    # deliberately NOT persisted — it is corpus-sized). count_if over
    # the flags folds them into a single pass; the counts are
    # bit-identical (count_if(q) ≡ count(filter(q)), count_if(q AND l)
    # ≡ count(filter(q).filter(l))).
    s012 = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if(F.col("q_ok")).alias("n1"),
        F.count_if(F.col("q_ok") & F.col("l_ok")).alias("n2"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("0_raw").alias("stage"), F.col("n0").alias("n_docs")
                ),
                F.struct(
                    F.lit("1_quality").alias("stage"),
                    F.col("n1").alias("n_docs"),
                ),
                F.struct(
                    F.lit("2_language").alias("stage"),
                    F.col("n2").alias("n_docs"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.n_docs")
    parts = [
        s012,
        stage("3_exact_dedup", exact_keep),
        # |kept| == |near_keep| (kept = exact_keep semi-joined on the
        # near-dup survivor ids, which are a subset of exact_keep's
        # unique ids) — counting the pinned relation avoids re-deriving
        # the exact_keep ⋈ components join for this one funnel row
        stage("4_near_dup", kept),
    ]
    idx = 5
    if bench_docs is not None:
        parts.append(stage(f"{idx}_decontam", decon_keep))
        idx += 1
    if mixture_fracs is not None:
        # mixture count + split counts in ONE rollup pass over the
        # pinned mixture relation: the grand-total grouping IS the
        # mixture survivor count (split_assign never yields NULL, so
        # the NULL row is unambiguous), replacing a separate
        # whole-relation aggregate per boundary (§6 fewer passes).
        # Empty-input semantics match the two-branch form: rollup over
        # zero rows yields exactly the grand-total row with count 0.
        parts.append(
            final.rollup("split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(
                F.when(
                    F.col("split").isNull(), F.lit(f"{idx}_mixture")
                )
                .otherwise(
                    F.concat(F.lit(f"{idx + 1}_split:"), F.col("split"))
                )
                .alias("stage"),
                "n_docs",
            )
        )
        idx += 2
    else:
        parts.append(
            final.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .select(
                F.concat(F.lit(f"{idx}_split:"), F.col("split")).alias(
                    "stage"
                ),
                "n_docs",
            )
        )
        idx += 1
    if pack_capacity is not None:
        # chunks per shard = max(chunk_last)+1 = ceil(shard_tokens/cap);
        # exercises the real pack_chunks prefix-scan path
        packed = TX.pack_chunks(
            final.filter(F.col("split") == "train"),
            capacity=pack_capacity,
            id_col="id",
            text_col="text",
            shards=pack_shards,
        )
        parts.append(
            packed.groupBy("shard")
            .agg((F.max("chunk_last") + 1).alias("_c"))
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_docs"))
            .select(F.lit(f"{idx}_pack_chunks").alias("stage"), "n_docs")
        )

    funnel = parts[0]
    for p in parts[1:]:
        funnel = funnel.union(p)
    return manifest, funnel
