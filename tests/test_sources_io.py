"""Parquet loads, CSV source and table sink round-trips
(sources/tables.py). `load` reads each file's schema once; the memo
must follow a rewritten file and still hand out fresh relations. The
reference ingests via COPY FROM CSV (benchmark/BerlinMOD/sql/load);
the temporal assembly must produce identical results from either
format."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mobilityduck_spark.functions import temporal as TT
from mobilityduck_spark.sources import tables as SRC

SF = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_load_rereads_a_rewritten_file(spark, tmp_path):
    """The schema memo is keyed by the file's version: a file rewritten
    at the same path with another schema loads with the new one."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert SRC.load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = SRC.load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_two_loads_equi_join_on_their_own_columns(spark):
    """Each load is a fresh relation: joining two loads of one table on
    user_id is the real equi-join, not a trivially true self-join."""
    a = SRC.load(spark, SF, "events")
    b = SRC.load(spark, SF, "events")
    per_user = pq.read_table(f"{SF}/events.parquet", columns=["user_id"])[
        "user_id"
    ].value_counts()
    expected = sum(c["counts"].as_py() ** 2 for c in per_user)
    assert expected < a.count() ** 2
    assert a.join(b, a["user_id"] == b["user_id"]).count() == expected


def test_nanos_timestamps_load_as_micros_without_session_setting(spark, tmp_path):
    """TIMESTAMP(NANOS) columns read as µs TIMESTAMP even in a session
    that does not set nanosAsLong, on the cold and the memoized load."""
    ns = [1_704_067_200_123_456_789, 1_704_153_600_000_000_999]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "v": [1, 2]}),
        str(tmp_path / "ns.parquet"),
    )
    prev = spark.conf.get(NANOS_AS_LONG)
    try:
        for _ in range(2):
            spark.conf.unset(NANOS_AS_LONG)
            df = SRC.load(spark, str(tmp_path), "ns")
            assert df.schema["ts"].dataType == T.TimestampType()
            got = df.orderBy("v").select(F.unix_micros("ts")).collect()
            assert [r[0] for r in got] == [x // 1000 for x in ns]
    finally:
        spark.conf.set(NANOS_AS_LONG, prev)


def test_csv_roundtrip_matches_parquet(spark, tmp_path):
    ev = SRC.load(spark, SF, "events").select("event_id", "ts", "user_id", "value")
    csv_dir = str(tmp_path / "events_csv")
    ev.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    ).write.mode("overwrite").option("header", "true").csv(csv_dir)
    back = SRC.load_csv(
        spark, csv_dir,
        schema="event_id bigint, ts string, user_id bigint, value double",
        ts_cols=("ts",),
    )
    assert back.schema["ts"].dataType.typeName() == "timestamp"
    assert back.count() == ev.count()
    # temporal assembly gives identical per-user sequences either way
    def agg(df):
        return df.groupBy("user_id").agg(
            TT.tsequence(
                F.collect_list(
                    F.struct(F.col("ts").alias("t"), F.col("value").alias("v"))
                )
            ).alias("tf")
        )
    a = {r["user_id"]: r["tf"] for r in agg(ev).collect()}
    b = {r["user_id"]: r["tf"] for r in agg(back).collect()}
    assert a == b


def test_write_table_partitioned_prunes(spark, tmp_path):
    ev = SRC.load(spark, SF, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "ev_part")
    SRC.write_table(ev, out, partition_by=("day",), sort_by=("ts",))
    rd = spark.read.parquet(out)
    assert rd.count() == ev.count()
    # partition pruning: a day filter reads a subset of files
    one = rd.filter(F.col("day") == "2024-01-05")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one.count() < rd.count()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed+sorted on the same key join with neither an
    Exchange nor a Sort — the pay-shuffle-once-at-write layout for
    100 TB fact-fact joins."""
    li = SRC.load(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = SRC.load(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    SRC.write_bucketed(
        li, "t_li_bkt", ("l_orderkey",), 4, sort_cols=("l_orderkey",),
        path=str(tmp_path / "li_bkt"),
    )
    SRC.write_bucketed(
        orders, "t_ord_bkt", ("o_orderkey",), 4, sort_cols=("o_orderkey",),
        path=str(tmp_path / "ord_bkt"),
    )
    try:
        a = spark.table("t_li_bkt")
        b = spark.table("t_ord_bkt")
        with_bcast_off = a.join(
            b.hint("merge"), a["l_orderkey"] == b["o_orderkey"]
        )
        plan = with_bcast_off._jdf.queryExecution().executedPlan().toString()
        # the win: both scans are bucket-pruned reads and the join needs
        # NO Exchange — the 100 TB shuffle was paid once at write time.
        # (Read-side Sort elision from sortBy files needs the legacy
        # bucketedTableScanOutputOrdering flag on Spark 3+/4, so a
        # bucket-local Sort remains — cheap, spill-free, per-bucket.)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        joined = with_bcast_off.count()
        shuffled = li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        ).count()
        assert joined == shuffled
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_ord_bkt")


def test_jsonl_roundtrip_documents(spark, tmp_path):
    docs = SRC.load(spark, SF, "documents")
    out = str(tmp_path / "docs_jsonl")
    SRC.write_jsonl(docs, out)
    back = SRC.load_jsonl(
        spark, out,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert back.count() == docs.count()
    a = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    assert a == b
    ta = {r["doc_id"]: r["text"] for r in docs.collect()}
    tb = {r["doc_id"]: r["text"] for r in back.collect()}
    assert ta == tb


def test_zorder_clustering_narrows_file_extents(spark, tmp_path):
    """Z-order clustered files cover compact spatial tiles: the mean
    per-file x/y extent must be well under the naive layout's, which is
    what makes parquet min/max stats prune bbox scans at scale."""
    import glob

    import pyarrow.parquet as pq

    ev = SRC.load(spark, SF, "events").select(
        "event_id",
        ((F.col("event_id") % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 7919 % 1000) / 10.0).alias("y"),
    )
    zdir = str(tmp_path / "ev_z")
    ndir = str(tmp_path / "ev_naive")
    SRC.write_spatial_clustered(ev, zdir, "x", "y", (0.0, 0.0, 100.0, 100.0), n_files=8)
    ev.repartition(8).write.mode("overwrite").parquet(ndir)

    def mean_extent(d):
        widths = []
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema:
                        md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                sx, sy = cols["x"], cols["y"]
                widths.append(
                    (sx.max - sx.min) + (sy.max - sy.min)
                )
        return sum(widths) / len(widths)

    z, naive = mean_extent(zdir), mean_extent(ndir)
    assert z < naive * 0.6, (z, naive)
    # layout change must not change content
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(ndir).count()
        == ev.count()
    )


def test_bucketed_pit_join_has_no_exchange(spark, tmp_path):
    """The SCD2 point-in-time join on bucketed layouts: facts and the
    SCD2 dimension bucketed+sorted on the business key join with NO
    Exchange — the residual interval predicate rides the merge join.
    This is the warehouse deployment shape: the dim is rewritten
    bucketed once per compaction, every PIT read joins exchange-free."""
    from mobilityduck_spark.operators import governance as GV

    orders = SRC.load(spark, SF, "orders")
    dim = GV.scd2_compact(
        orders, "o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey"
    )
    facts = orders.select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate")).alias("t_us"),
    )
    SRC.write_bucketed(
        facts, "t_pit_facts", ("k",), 4, sort_cols=("k",),
        path=str(tmp_path / "pit_facts"),
    )
    SRC.write_bucketed(
        dim.withColumnRenamed("key", "k"), "t_pit_dim", ("k",), 4,
        sort_cols=("k",), path=str(tmp_path / "pit_dim"),
    )
    try:
        f = spark.table("t_pit_facts")
        d = spark.table("t_pit_dim").withColumnRenamed("k", "key")
        pit = GV.scd2_pit_lookup(
            f.hint("merge"), d, "k", "t_us"
        )
        plan = pit._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # parity with the unbucketed path
        exp = GV.scd2_pit_lookup(facts, dim, "k", "t_us").count()
        assert pit.count() == exp and exp > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pit_facts")
        spark.sql("DROP TABLE IF EXISTS t_pit_dim")
