"""operators/lsh.py, the band self-join core of the near-dup families:
pair dedup across bands, pair orientation, blocking, the bucket cap,
and the one two-table band join (incremental_near_dups)."""

import pyspark.sql.functions as F

from mobilityduck_spark import pins
from mobilityduck_spark.operators import dedup as DD
from mobilityduck_spark.operators import lsh as LSH


def _keyed(spark, rows):
    """(id, grp, band, key) from (id, grp, [key per band]) rows."""
    df = spark.createDataFrame(rows, "id long, grp string, ks array<long>")
    return LSH.band_rows(df, [F.col("ks")[b] for b in range(3)]).drop("ks")


def test_pair_in_several_bands_is_emitted_once(spark):
    # ids 1 and 2 share all three buckets, 2 and 3 share band 2 only
    keyed = _keyed(spark, [
        (1, "x", [10, 20, 30]), (2, "x", [10, 20, 30]), (3, "x", [11, 21, 30]),
    ])
    raw = LSH.band_candidates(keyed).select("id", "id_b").collect()
    assert sorted(tuple(r) for r in raw) == [
        (1, 2), (1, 2), (1, 2), (1, 3), (2, 3),
    ]
    out = LSH.band_pairs(
        keyed, F.lit(1).alias("v"), F.col("v") == 1
    ).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in out) == [(1, 2), (1, 3), (2, 3)]
    pins.release()


def test_pairs_are_oriented_and_verified(spark):
    keyed = _keyed(spark, [(i, "x", [i % 2, 0, 5]) for i in range(6)])
    out = LSH.band_pairs(
        keyed,
        (F.col("id_b") - F.col("id")).alias("gap"),
        F.col("gap") <= 2,
    ).collect()
    assert out
    assert all(r["id_a"] < r["id_b"] for r in out)
    assert all(r["gap"] == r["id_b"] - r["id_a"] <= 2 for r in out)
    # band 1 puts every id in one bucket, so all 15 pairs are candidates
    # and the verify keeps those at most 2 apart
    assert len(out) == sum(1 for a in range(6) for b in range(a + 1, 6) if b - a <= 2)
    pins.release()


def test_block_keeps_pairs_within_their_block(spark):
    keyed = _keyed(spark, [
        (1, "x", [1, 2, 3]), (2, "x", [1, 2, 3]),
        (3, "y", [1, 2, 3]), (4, "y", [1, 2, 3]),
    ])
    pairs = {
        tuple(r)
        for r in LSH.band_candidates(keyed, block=("grp",))
        .select("id", "id_b").collect()
    }
    assert pairs == {(1, 2), (3, 4)}
    unblocked = LSH.band_candidates(keyed).select("id", "id_b").distinct()
    assert unblocked.count() == 6
    pins.release()


def test_cap_buckets_drops_oversized_buckets(spark):
    # band 0 bucket 5 holds 4 rows; every other bucket holds at most 2
    keyed = _keyed(spark, [
        (1, "x", [5, 1, 0]), (2, "x", [5, 1, 1]),
        (3, "x", [5, 2, 2]), (4, "x", [5, 2, 3]),
    ])
    capped = LSH.cap_buckets(keyed, 2)
    assert sorted(capped.columns) == sorted(keyed.columns)
    assert {(r["band"], r["key"]) for r in capped.collect()} == {
        (1, 1), (1, 2), (2, 0), (2, 1), (2, 2), (2, 3),
    }
    pairs = {
        tuple(r)
        for r in LSH.band_candidates(capped).select("id", "id_b").collect()
    }
    assert pairs == {(1, 2), (3, 4)}
    assert LSH.cap_buckets(keyed, None) is keyed
    pins.release()


def test_incremental_near_dups_mapside_verify_parity(spark):
    """filter-then-distinct == dedup-then-verify: est_jaccard is a pure
    function of the pair, so the map-side verify emits exactly the rows
    the old groupBy(first(sig)) formulation did."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
            (4, "completely different text body here now"),
        ],
        "doc_id bigint, text string",
    )
    prior = docs.where(F.col("doc_id") <= 2)
    new = docs.where(F.col("doc_id") >= 3).unionAll(
        prior.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    )
    idx = DD.minhash_band_index(prior, num_hashes=16, bands=4, shingle_k=3)
    got = sorted(
        (r["new_id"], r["prior_id"], r["est_jaccard"])
        for r in DD.incremental_near_dups(
            new, idx, num_hashes=16, bands=4, shingle_k=3,
            min_est_jaccard=0.5,
        ).collect()
    )
    # docs 101/102 are exact copies of priors 1/2 (identical texts give
    # identical signatures): each must pair with BOTH priors at est 1.0
    assert got == [
        (101, 1, 1.0), (101, 2, 1.0), (102, 1, 1.0), (102, 2, 1.0),
    ]
    # and exactly once per pair despite colliding in all 4 bands
    assert len(got) == len(set((a, b) for a, b, _ in got))
