"""Bucketed corpus layout (sources/bucketed.py): the write-once shuffle
that makes later url/doc_id-keyed joins and aggregations exchange-free.

The assertions here are PLAN-level — the point of bucketing is a shape
property ("no Exchange below this join"), so the tests read the executed
plan string, with broadcast joins disabled so an exchange-free plan can
only come from the bucketing itself.
"""

import pytest
from pyspark.sql import functions as F

from edspdf_spark.sources.bucketed import write_bucketed_table


def table_bucketing(spark, table: str) -> dict:
    """The catalog's recorded layout for ``table``:
    ``{"n_buckets": int | None, "bucket_cols": [..], "sort_cols": [..]}``
    (``n_buckets`` None when the table is not bucketed)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r["col_name"]: r["data_type"] for r in rows}
    out = {"n_buckets": None, "bucket_cols": [], "sort_cols": []}
    if "Num Buckets" in info:
        out["n_buckets"] = int(info["Num Buckets"])
        for field, name in (("bucket_cols", "Bucket Columns"), ("sort_cols", "Sort Columns")):
            cols = info.get(name, "").strip("[]").split(",")
            out[field] = [c.strip(" `") for c in cols if c.strip(" `")]
    return out


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_pair(spark):
    docs = spark.range(400).select(
        F.concat(F.lit("https://d/"), F.col("id")).alias("url"),
        (F.col("id") % 7).alias("grade"),
    )
    scores = spark.range(400).select(
        F.concat(F.lit("https://d/"), F.col("id")).alias("url"),
        (F.col("id") * 3).alias("score"),
    )
    write_bucketed_table(docs, "t_bucket_docs", key="url", n_buckets=4)
    write_bucketed_table(scores, "t_bucket_scores", key="url", n_buckets=4)
    yield "t_bucket_docs", "t_bucket_scores"
    spark.sql("DROP TABLE IF EXISTS t_bucket_docs")
    spark.sql("DROP TABLE IF EXISTS t_bucket_scores")


class TestBucketedLayout:
    def test_catalog_records_layout(self, spark, bucketed_pair):
        info = table_bucketing(spark, bucketed_pair[0])
        assert info["n_buckets"] == 4
        assert info["bucket_cols"] == ["url"]
        assert info["sort_cols"] == ["url"]

    def test_cobucketed_join_has_no_exchange(self, spark, bucketed_pair, no_broadcast):
        a, b = bucketed_pair
        j = spark.table(a).join(spark.table(b), "url")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 400
        # values survive the bucketed path unchanged
        row = j.where(F.col("url") == "https://d/11").collect()[0]
        assert (row["grade"], row["score"]) == (11 % 7, 33)

    def test_unbucketed_join_does_shuffle(self, spark, bucketed_pair, no_broadcast):
        # control: reading the same rows WITHOUT the catalog layout
        # (fresh parallelized frames) must plan an Exchange — proves the
        # no-Exchange assertion above is the bucketing, not the data size
        a = spark.table(bucketed_pair[0]).collect()
        b = spark.table(bucketed_pair[1]).collect()
        df_a = spark.createDataFrame(a)
        df_b = spark.createDataFrame(b)
        plan = _plan(df_a.join(df_b, "url"))
        assert "Exchange" in plan

    def test_groupby_on_bucket_key_has_no_exchange(self, spark, bucketed_pair):
        agg = spark.table(bucketed_pair[0]).groupBy("url").agg(
            F.sum("grade").alias("g")
        )
        plan = _plan(agg)
        assert "Exchange" not in plan, plan
        assert agg.count() == 400

    def test_one_sided_bucketed_join_still_shuffles_other_side_only(
        self, spark, bucketed_pair, no_broadcast
    ):
        plain = spark.range(400).select(
            F.concat(F.lit("https://d/"), F.col("id")).alias("url"),
            F.lit(1).alias("one"),
        )
        j = spark.table(bucketed_pair[0]).join(plain, "url")
        plan = _plan(j)
        # exactly one Exchange: the unbucketed side repartitions to the
        # bucket layout; the bucketed side must not
        assert plan.count("Exchange") - plan.count("ReusedExchange") == 1, plan
        assert j.count() == 400

    def test_not_bucketed_probe(self, spark):
        spark.range(5).select(F.col("id").alias("url")).write.mode(
            "overwrite"
        ).saveAsTable("t_plain_probe")
        try:
            assert table_bucketing(spark, "t_plain_probe")["n_buckets"] is None
        finally:
            spark.sql("DROP TABLE IF EXISTS t_plain_probe")

    def test_bad_bucket_count(self, spark):
        with pytest.raises(ValueError):
            write_bucketed_table(spark.range(1), "t_never", key="id", n_buckets=0)
