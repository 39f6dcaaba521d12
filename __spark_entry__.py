"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the large-scale extension operators) to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` provides the DuckDB-equivalent SQL for the
driver's correctness gate. Column names/aliases match pairwise.

Determinism groundwork shared by both sides:
  * money aggregates run in DECIMAL (exact), cast to DOUBLE at the end;
  * every hash is md5-based (identical in Spark and DuckDB);
  * MinHash/SimHash use H56(s) = first 14 md5 hex chars as int64 —
    Spark ``conv(substr(md5(s),1,14),16,10)`` ==
    DuckDB ``('0x' || substr(md5(s),1,14))::BIGINT``;
  * cosine similarities are rounded to 4 dp and ranked on the rounded
    value with id tie-breaks.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_etl_spark import functions as ops_fn
from graph_etl_spark import operators as ops
from graph_etl_spark import pipeline as pipeline_mod
from graph_etl_spark.functions import coalesce_remap, dedup_by_key
from graph_etl_spark.sources import read_table
from graph_etl_spark.streaming import sessionize, windowed_event_counts

DEC = "decimal(18,2)"  # exact money arithmetic both engines share


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship §7.3 slice: orders→customer edges resolved through the
    J1 remap (custkey → customer name), then a per-nation graph
    neighborhood aggregate. Exercises ingest, remap join, broadcast
    dims, and decimal-exact aggregation in one plan.

    Conf-neutral like queries(): builds under scoped engine semantics,
    restores the caller's session confs before returning."""
    from graph_etl_spark.sources import runtime_confs

    with runtime_confs(spark):
        return _entry_build(spark)


def _entry_build(spark: SparkSession) -> DataFrame:
    sf = "/root/testdata/sf0.001"
    customer = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    nation = _t(spark, sf, "nation")

    edges = orders.select(
        F.col("o_custkey").alias("start"),
        F.col("o_orderkey").alias("end"),
        F.col("o_totalprice").cast(DEC).alias("price"),
    )
    mapping = customer.select(
        F.col("c_custkey").alias("old_value"), F.col("c_name").alias("new_value")
    )
    resolved = coalesce_remap(edges, mapping, "start").filter(F.col("end").isNotNull())
    enriched = resolved.join(
        F.broadcast(
            customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .select(F.col("c_name").alias("start"), F.col("n_name"))
        ),
        "start",
    )
    return (
        enriched.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# §2 core ETL operators
# ---------------------------------------------------------------------------


def q_etl_normalize_nodes(spark, sf):
    """S1+F2+A1+P4: the save_nodes normalization chain on customer."""
    c = _t(spark, sf, "customer")
    cleaned = c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[\\r\\n\\\\]", "").alias("c_name"),
        F.regexp_replace("c_mktsegment", "[\\r\\n\\\\]", "").alias("c_mktsegment"),
        "c_acctbal",
    )
    return dedup_by_key(cleaned, ["c_custkey"]).na.drop(subset=["c_custkey"])


def q_etl_dedup_pk(spark, sf):
    """A1 deterministic dedup: one order per customer (lexicographically
    first over non-key columns)."""
    o = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return dedup_by_key(o, ["o_custkey"])


def q_etl_remap_j1(spark, sf):
    """J1 explicit remap: full-outer join + coalesce + mapped_from;
    unmatched mapping rows survive with null end."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    # Endpoint and mapping key cast to string up front so the remap
    # coalesce is same-typed under any session (ANSI-proof even without
    # coalesce_remap's own common-supertype fallback).
    edges = o.select(
        F.col("o_custkey").cast("string").alias("start"),
        F.col("o_orderkey").alias("end"),
    )
    mapping = c.select(
        F.col("c_custkey").cast("string").alias("old_value"),
        F.col("c_name").alias("new_value"),
    )
    out = coalesce_remap(edges, mapping, "start")
    return dedup_by_key(out, ["start", "end"]).select(
        F.col("start").cast("string").alias("start"), "end", F.col("mapped_from").cast("long").alias("mapped_from")
    )


def q_etl_automap_j2(spark, sf):
    """J2 natural-key auto-map: edges declared against Customer:c_name
    get resolved to Customer:c_custkey; old value dropped."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    # edge table whose end is a natural key (customer name)
    edges = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("o_orderkey").alias("start"), F.col("c_name").alias("end"))
    )
    mapping = c.select(F.col("c_custkey").alias("new_value"), F.col("c_name").alias("old_value"))
    out = coalesce_remap(edges, mapping, "end", keep_mapped_from=False)
    return dedup_by_key(out, ["start", "end"]).select(
        "start", F.col("end").cast("long").alias("end")
    )


def q_etl_semi_join_match(spark, sf):
    """J3 'match' endpoint strategy: left-semi joins against node sets."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 0)
    return (
        o.join(c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_etl_anti_join_blanks(spark, sf):
    """J4 'create' endpoint strategy: endpoints missing from the node
    set become synthesized blank nodes (distinct anti-join keys)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 0)
    return (
        o.select(F.col("o_custkey").alias("id"))
        .join(c.select(F.col("c_custkey").alias("id")), "id", "left_anti")
        .distinct()
        .withColumn("blank_node", F.lit(True))
    )


def q_etl_array_flatten(spark, sf):
    """F1 List[Utf8] → '|' join: per-nation sorted customer-name list."""
    c = _t(spark, sf, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"))
        .select(F.col("c_nationkey").cast("int").alias("c_nationkey"), "names")
    )


def q_etl_split_explode(spark, sf):
    """F4+F5 split + explode: top-20 document tokens."""
    d = _t(spark, sf, "documents")
    toks = d.select(F.explode(ops.text.tokens_col(F.col("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


def q_etl_union_sources(spark, sf):
    """U1 vertical concat of two node sources with a source tag."""
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"), F.lit("customer").alias("src")
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


def q_etl_chunk_counts(spark, sf):
    """W1 chunking: global row_number over a deterministic key, 500-row
    chunks, per-chunk counts (the strict_chunks parity mode). The rank
    comes from ops.exact_global_rank (percentile boundary literals →
    per-bucket local windows + broadcast prefix offsets) — same output
    as one global window, zero unpartitioned WindowExec (r10 sweep)."""
    o = _t(spark, sf, "orders")
    ranked, _ = ops.exact_global_rank(
        o.select("o_orderkey"), "o_orderkey", ["o_orderkey"], out="__rn"
    )
    return (
        ranked.select(F.floor((F.col("__rn") - 1) / 500).alias("chunk"))
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_etl_metadata_attach(spark, sf):
    """D3 as_property metadata attach: literal columns per node."""
    s = _t(spark, sf, "supplier")
    return s.select("s_suppkey", "s_name").withColumn(
        "meta_source", F.lit("tpch")
    ).withColumn("meta_version", F.lit(1))


# ---------------------------------------------------------------------------
# analytics (north-star §7.2 step 7)
# ---------------------------------------------------------------------------


def q_q1_pricing_summary(spark, sf):
    l = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast(DEC)  # noqa: E731
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast(DEC) - dec("l_discount"))
                * (F.lit(1).cast(DEC) + dec("l_tax"))
            )
            .cast("double")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_sql_interface_q1(spark, sf):
    """Same Q1 through the spark.sql() SQL surface (temp view + ANSI
    SQL text) — the engine's second query language, same Catalyst plan."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               COUNT(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q_q3_shipping_priority(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)))
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .filter((F.col("o_orderdate") < "1995-03-15") & (F.col("l_shipdate") > "1995-03-15"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_q5_local_supplier_volume(spark, sf):
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC)))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), (c.c_nationkey == n.n_nationkey) & (s.s_nationkey == n.n_nationkey))
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_win_running_total(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return o.filter(F.col("o_custkey") <= 100).select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
    )


def q_topk_orders(spark, sf):
    """Top-15 orders by price: orderBy + limit compiles to
    TakeOrderedAndProject (per-partition top-k, k·partitions merge);
    the only unpartitioned window ranks the 15 survivors — the bm25
    top-k shape (r10 sweep)."""
    o = _t(spark, sf, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(15)
        .withColumn("rank", F.row_number().over(w))
    )


def q_set_intersect_custkeys(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


def q_set_except_custkeys(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.select(F.col("c_custkey").alias("k")).exceptAll(
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    ).distinct()


def q_rollup_lineitem(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        )
    )


def q_stats_agg(spark, sf):
    """Statistical aggregates: correlation, covariance, stddev,
    variance per return flag."""
    l = _t(spark, sf, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("covar_price_qty"),
        F.round(F.stddev_samp("l_discount"), 6).alias("std_discount"),
        F.round(F.var_samp("l_discount"), 6).alias("var_discount"),
    )


def q_pivot_status(spark, sf):
    """Pivot: order counts per priority × status (wide form)."""
    o = _t(spark, sf, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    # nulls → 0 for statuses absent in a group
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}") for c in ["F", "O", "P"]],
    )


def q_moving_avg(spark, sf):
    """Sliding-frame window: 7-row moving average of order totals per
    customer (decimal-exact mean)."""
    o = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-6, Window.currentRow)
    )
    return o.filter(F.col("o_custkey") <= 100).select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(F.col("o_totalprice").cast(DEC)).over(w)
            / F.count(F.lit(1)).over(w)
        )
        .cast("double")
        .alias("ma7"),
    )


def q_pandas_udf_normalize(spark, sf):
    """Vectorized Arrow pandas_udf: L2-normalize embeddings in numpy —
    the sanctioned Python fast path (batch columnar, not per-row)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _l2norm(vecs):
        import numpy as np

        out = []
        for v in vecs:
            a = np.asarray(v, dtype="float64")
            n = float(np.sqrt((a * a).sum()))
            out.append((a / n if n else a).round(4).tolist())
        return pd.Series(out)

    # this module uses `from __future__ import annotations`, which
    # stringifies hints and breaks pandas_udf's signature inference —
    # attach real annotation objects instead
    _l2norm.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    l2norm = pandas_udf(_l2norm, "array<double>")

    e = _t(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        F.element_at(l2norm("embedding"), 1).alias("c0"),
        F.element_at(l2norm("embedding"), 64).alias("c63"),
    )


def q_cube_agg(spark, sf):
    """CUBE grouping over (returnflag, linestatus) — all grouping-set
    combinations in one pass."""
    l = _t(spark, sf, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_price"),
    )


def q_approx_quantiles(spark, sf):
    """approx_percentile sketch with a tolerance-banded verdict: the
    query returns the EXACT percentiles (deterministic, oracle-
    comparable) plus booleans asserting the sketch landed within 5% of
    them. The oracle recomputes the exact values and expects TRUE — so
    the sketch is judged, not just executed."""
    o = _t(spark, sf, "orders")
    agg = o.agg(
        F.approx_percentile(
            "o_totalprice", F.array(F.lit(0.5), F.lit(0.9)), 10_000
        ).alias("ap"),
        F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9))).alias("ep"),
    )
    return agg.select(
        F.round(F.col("ep")[0], 4).alias("exact_p50"),
        F.round(F.col("ep")[1], 4).alias("exact_p90"),
        (F.abs(F.col("ap")[0] - F.col("ep")[0]) <= 0.05 * F.abs(F.col("ep")[0])).alias(
            "p50_within_5pct"
        ),
        (F.abs(F.col("ap")[1] - F.col("ep")[1]) <= 0.05 * F.abs(F.col("ep")[1])).alias(
            "p90_within_5pct"
        ),
    )


def q_salted_count(spark, sf):
    """Two-phase salted aggregation over a skewed key (identical result
    to a plain count — the skew-tolerant physical shape)."""
    from graph_etl_spark.operators.skew import salted_count

    l = _t(spark, sf, "lineitem")
    return salted_count(l, "l_returnflag", salt_buckets=16)


def q_distinct_counts(spark, sf):
    c = _t(spark, sf, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


def q_approx_distinct_custkeys(spark, sf):
    """approx_count_distinct (HLL) with a tolerance-banded verdict:
    returns the EXACT distinct count plus a boolean asserting the HLL
    estimate is within 5% of it; the oracle recomputes the exact count
    and expects TRUE."""
    o = _t(spark, sf, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
    )
    return agg.select(
        F.col("exact").alias("exact_custkeys"),
        (
            F.abs(F.col("approx") - F.col("exact"))
            <= 0.05 * F.col("exact").cast("double")
        ).alias("within_5pct"),
    )


def q_unpivot_part(spark, sf):
    """Unpivot (melt): part numeric attributes to long form."""
    p = _t(spark, sf, "part")
    return p.select("p_partkey", "p_size", "p_retailprice").unpivot(
        "p_partkey", ["p_size", "p_retailprice"], "attr", "val"
    ).select("p_partkey", "attr", F.col("val").cast("double").alias("val"))


def q_events_gap_fill(spark, sf):
    """Time-series gap fill (hypertable-style): one row per hour ×
    event_type across the full span, zero-filled where no events —
    dimension grid via sequence+explode, left join of the actuals."""
    e = _t(spark, sf, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    span = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        span.select(
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h")
        )
        .crossJoin(e.select("event_type").distinct())
    )
    return (
        grid.join(hourly, ["h", "event_type"], "left")
        .select(
            F.col("h").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


def q_events_tumbling_counts(spark, sf):
    """Streaming-shaped tumbling-window agg (batch mode of the
    Structured Streaming path — same plan, watermark elided)."""
    e = _t(spark, sf, "events")
    out = windowed_event_counts(e, window_duration="1 hour")
    return out.select(
        F.col("window_start"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def q_events_hopping_counts(spark, sf):
    """Hopping-window agg (1h windows sliding every 15m): each event
    lands in 4 overlapping windows. Window starts epoch-aligned,
    emitted as epoch seconds (timezone-free compare)."""
    e = _t(spark, sf, "events")
    from graph_etl_spark.streaming import hopping_event_counts

    out = hopping_event_counts(e, window_duration="1 hour", slide="15 minutes")
    return out.select(
        "window_start", "event_type", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def q_etl_upsert_nodes(spark, sf):
    """SCD-1 keyed merge: a delta batch (200 modified customers with
    uppercased names + 50 brand-new synthetic ids) upserts into the
    customer table — updates win on collision, everything else passes
    through. One hash shuffle (union + preference window, no join)."""
    from graph_etl_spark.functions import upsert_by_key

    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    did = F.col("c_custkey")
    updates = (
        c.filter(did % 7 == 0)
        .select(
            "c_custkey",
            F.upper(F.col("c_name")).alias("c_name"),
            F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionByName(
            c.filter(did < 50).select(
                (did + 9_000_000).alias("c_custkey"),
                F.concat(F.lit("NEW-"), F.col("c_name")).alias("c_name"),
                "c_acctbal",
                "c_mktsegment",
            )
        )
    )
    return upsert_by_key(c, updates, keys="c_custkey")


def q_text_fuzzy_pairs(spark, sf):
    """Fuzzy record linkage over distinct part names: q-gram blocking
    (shared character 3-gram -> candidate) + exact Levenshtein verify
    <= 2 — the classic record-linkage shape, no all-pairs scan."""
    d = _t(spark, sf, "part")
    return ops.fuzzy_pairs(d, col="p_name", max_dist=2, qgram=3)


def q_etl_profile_table(spark, sf):
    """Data-quality profile of lineitem (Deequ-style): per-column
    null count, exact distinct count, and min/max/avg of the value
    (numerics) or the length (strings) — uniform double stats, no
    float string-formatting to diverge on."""
    d = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_shipdate", "l_linestatus",
    )
    return ops.profile_table(d, exact_distinct=True)


def q_etl_profile_table_fast(spark, sf):
    """The DEFAULT single-scan profile (VERDICT r7 #3): all columns'
    null/min/max/decimal-avg plus HLL distinct estimates in ONE
    aggregation pass — at 100 TB a 7-column profile is one corpus
    scan, not seven. Judged by the sketch-verdict convention
    (approx_distinct_custkeys): exact stats compare exactly; the HLL
    estimate must land within 5% of an exact distinct recomputed
    in-query (deterministic — approx_count_distinct is seed-fixed)."""
    d = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_shipdate", "l_linestatus",
    )
    prof = ops.profile_table(d)  # single scan, approx n_distinct
    # exact distincts for the verdict, ONE Expand agg (×7 locally —
    # verification cost only; the operator itself never pays it).
    # fan_out: the Expand straggles an under-split scan the same way
    # the profile agg does
    from graph_etl_spark.sources import fan_out

    exact = fan_out(d).agg(
        *[F.countDistinct(c).alias(c) for c in d.columns]
    ).unpivot([], d.columns, "column", "exact_distinct")
    return prof.join(F.broadcast(exact), "column").select(
        "column", "kind", "n_rows", "n_nulls", "min_val", "max_val", "avg_val",
        (
            F.abs(F.col("n_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct").cast("double")
        ).alias("distinct_ok"),
    )


def q_events_sessionize(spark, sf):
    e = _t(spark, sf, "events")
    sess = sessionize(e, gap_minutes=30)
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def q_json_extract_events(spark, sf):
    """Semi-structured access: extract a JSON field from the events
    props column and aggregate on it."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def q_q6_forecast_revenue(spark, sf):
    """TPC-H Q6 analog: pure scan-filter-aggregate (the pushdown
    showcase — every predicate reaches the parquet scan)."""
    l = _t(spark, sf, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_q10_returned_items(spark, sf):
    """TPC-H Q10 analog: top-20 customers by revenue from returned
    items in a quarter."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    n = _t(spark, sf, "nation")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(
            (F.col("o_orderdate") >= "1995-10-01")
            & (F.col("o_orderdate") < "1996-01-01")
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_q4_order_priority(spark, sf):
    """TPC-H Q4 analog (the synthetic lineitem carries no commit/receipt
    dates, so 'late' = any lineitem shipped after the order date):
    priority histogram of a quarter's late orders. The EXISTS subquery
    becomes a LEFT SEMI join with a mixed equi + non-equi condition —
    the date filter prunes orders BEFORE the semi-join shuffle."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    window_o = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    late = window_o.join(
        l,
        (window_o.o_orderkey == l.l_orderkey) & (l.l_shipdate > window_o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def q_q7_volume_shipping(spark, sf):
    """TPC-H Q7 analog: shipping volume between distinct nations of a
    five-nation trading bloc, by supplier nation × customer nation ×
    ship year. The nation dim joins twice under different roles, both
    broadcast; the bloc membership filters prune customer/supplier
    before the fact joins."""
    bloc = [0, 1, 2, 3, 4]
    n = _t(spark, sf, "nation")
    s = _t(spark, sf, "supplier").filter(F.col("s_nationkey").isin(bloc))
    c = _t(spark, sf, "customer").filter(F.col("c_nationkey").isin(bloc))
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_q8_market_share(spark, sf):
    """TPC-H Q8 analog: NATION_5's share of EUROPE's PROMO-part order
    volume per order year. Sums stay decimal-exact; only the final
    ratio is computed in double and rounded to 4 dp (the repo's cosine
    convention), identically on both engines."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    vol = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
    )
    agg = vol.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0).cast(DEC)))
        .cast("double")
        .alias("nation_vol"),
        F.sum(rev).cast("double").alias("total_vol"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("nation_vol") / F.col("total_vol"), 4).alias("mkt_share"),
        "nation_vol",
        "total_vol",
    )


def q_q13_customer_distribution(spark, sf):
    """TPC-H Q13 analog: distribution of customers by order count — a
    LEFT OUTER join that must preserve order-less customers (count of
    the null-able side, not COUNT(*)), then a second aggregation over
    the first's results."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_q14_promo_revenue(spark, sf):
    """TPC-H Q14 analog: PROMO parts' share of one month's revenue.
    Broadcast part join, conditional decimal aggregate, scalar result;
    ratio in double rounded to 4 dp on both engines."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    j = l.filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    ).join(F.broadcast(p), l.l_partkey == p.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast(DEC)))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 4).alias("promo_pct"),
        "promo_rev",
        "total_rev",
    )


def q_q18_large_volume(spark, sf):
    """TPC-H Q18 analog: orders whose total quantity exceeds 300 — the
    HAVING-subquery shape as aggregate-then-join (the aggregate runs
    FIRST, shrinking the fact side to the few hundred qualifying
    orders before any dimension join)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


def q_q19_discount_revenue(spark, sf):
    """TPC-H Q19 analog: OR-of-ANDs bracket predicate spanning both
    sides of the broadcast part join. Catalyst extracts the common
    partkey equi-key; the brand/size legs push into the build side."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 24)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 34)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 44)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_q22_dormant_balance(spark, sf):
    """TPC-H Q22 analog (every synthetic customer has orders, so
    'dormant' = no order since 2000-01-01): above-average-balance
    customers with no recent orders, grouped by nation. The average
    threshold compares EXACTLY on both engines via cross-multiplication
    (acctbal · n > Σ acctbal, all decimal) — no float average whose
    last bit could flip a membership. Scalar agg broadcast + anti-join."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("total_bal"),
        F.count(F.lit(1)).alias("n_bal"),
    )
    recent = o.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey")
    return (
        c.join(F.broadcast(bal))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("n_bal") > F.col("total_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
    )


def q_q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 analog (no partsupp table: the supply relation derives
    from lineitem as each supplier's best offer price per part) — the
    CORRELATED-MIN subquery shape: per-part minimum offer computed
    first, then equality-joined back so only min-cost suppliers
    survive. All money stays DECIMAL so the equality cannot flip on a
    float last bit."""
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    p = _t(spark, sf, "part")
    offers = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast(DEC)).alias("offer_price"))
    )
    best = offers.groupBy("l_partkey").agg(F.min("offer_price").alias("min_price"))
    return (
        offers.join(best, "l_partkey")
        .filter(F.col("offer_price") == F.col("min_price"))
        .join(F.broadcast(p.filter(F.col("p_size") == 15)), offers.l_partkey == p.p_partkey)
        .join(F.broadcast(s), offers.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("min_price").cast("double").alias("min_price"),
        )
    )


def q_q9_product_type_profit(spark, sf):
    """TPC-H Q9 analog (no ps_supplycost: cost proxies as half the
    part's retail price per unit): profit by (nation, order year) over
    the red-part supply chain — the five-way star join whose fact side
    shuffles once and whose dims all broadcast. Decimal profit sum."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    o = _t(spark, sf, "orders")
    amount = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
        - F.col("p_retailprice").cast(DEC) * F.lit(0.5).cast(DEC)
        * F.col("l_quantity").cast(DEC)
    )
    return (
        l.join(F.broadcast(p.filter(F.col("p_name").like("red%"))), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


def q_q11_important_supply(spark, sf):
    """TPC-H Q11 analog (supply value derives from lineitem): parts
    whose total supplied value exceeds 1/1000 of the corpus-wide
    value (1/1500: with 2000 parts the canonical 1/1000 = 2x the
    average share is vacuous on the uniform synthetic data; 1/1500
    keeps the filter selective at 156 of 2000 parts at sf0.01) — the
    GLOBAL-SCALAR-THRESHOLD shape (one tiny aggregate
    broadcast against the per-part aggregate; the fraction compares by
    cross-multiplication so both engines decide membership on exact
    decimals)."""
    l = _t(spark, sf, "lineitem")
    val = F.col("l_extendedprice").cast(DEC) * F.col("l_quantity").cast(DEC)
    per_part = l.groupBy("l_partkey").agg(F.sum(val).alias("part_value"))
    total = l.agg(F.sum(val).alias("total_value"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") * 1500 > F.col("total_value"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


def q_q12_priority_shipping(spark, sf):
    """TPC-H Q12 analog (no l_shipmode/commitdate: the late-shipment
    predicate is shipdate > orderdate + 30 days, bucketed by return
    flag): per-flag counts of high- vs low-priority late orders — the
    join + CASE-sum conditional aggregation shape."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    joined = l.join(o, l.l_orderkey == o.o_orderkey).withColumn(
        "__odate", F.col("o_orderdate").cast("date")
    )
    return (
        joined.filter(
            (F.col("l_shipdate").cast("date") > F.date_add(F.col("__odate"), 30))
            & (F.year("l_shipdate") == 1997)
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


def q_q15_top_supplier(spark, sf):
    """TPC-H Q15 analog: each supplier's Q1-1996 revenue, then the
    supplier(s) achieving the MAX — the scalar-subquery-on-an-
    aggregate shape. Revenue stays DECIMAL end-to-end so the max
    equality is exact on both engines."""
    l = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


def q_q16_supplier_part_counts(spark, sf):
    """TPC-H Q16 analog: distinct-supplier counts per (brand, type,
    size) bucket over the lineitem-derived supply relation, excluding
    one brand, one type prefix, and 'complaint' suppliers (acctbal<0
    stands in for the comment scan) — the NOT-IN double-exclusion
    shape as broadcast anti-join + filtered dims."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    s = _t(spark, sf, "supplier")
    supply = l.select("l_partkey", "l_suppkey").distinct()
    keep_p = p.filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    complaints = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        supply.join(F.broadcast(keep_p), supply.l_partkey == keep_p.p_partkey)
        .join(F.broadcast(complaints), supply.l_suppkey == complaints.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_q17_small_quantity_revenue(spark, sf):
    """TPC-H Q17 analog: revenue lost to small-quantity orders of one
    brand — the CORRELATED-AVG subquery shape (per-part average
    quantity joined back; the 20%-of-average comparison cross-
    multiplies to exact decimals: qty · 5 · n < Σqty)."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    brand = p.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    return (
        l.join(F.broadcast(brand), l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(per_part.withColumnRenamed("l_partkey", "__pk")),
              F.col("l_partkey") == F.col("__pk"))
        .filter(
            F.col("l_quantity").cast(DEC) * 5 * F.col("n_li") < F.col("sum_qty")
        )
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)) / F.lit(7).cast(DEC))
            .cast("double")
            .alias("avg_yearly")
        )
    )


def q_q20_dominant_suppliers(spark, sf):
    """TPC-H Q20 analog (availability derives from shipped volume):
    suppliers who in 1995 shipped MORE THAN HALF of some small-part's
    total 1995 volume — the nested semi-join chain (per-(supp,part)
    agg vs per-part scalar, then supplier semi-join). The half
    comparison doubles the left side instead of halving the right, so
    membership is decided on exact decimals."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    y95 = l.filter(F.year("l_shipdate") == 1995)
    small = p.filter(F.col("p_name").like("small%")).select("p_partkey")
    sp = (
        y95.join(F.broadcast(small), y95.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("supp_qty"))
    )
    per_part = sp.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    dominant = (
        sp.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
    )


def q_q21_waiting_orders(spark, sf):
    """TPC-H Q21 analog (lateness = shipped over 60 days after the
    order date): per-supplier count of multi-supplier 'F' orders where
    THIS supplier shipped late, at least one OTHER supplier exists on
    the order (EXISTS -> left_semi on a non-equal suppkey), and no
    OTHER supplier was late (NOT EXISTS -> left_anti) — the canonical
    exists/not-exists pair as semi/anti joins over the same fact."""
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    f_orders = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("__odate")
    )
    li = l.select("l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("__sdate"))
    base = li.join(f_orders, li.l_orderkey == f_orders.o_orderkey)
    late = base.filter(F.col("__sdate") > F.date_add(F.col("__odate"), 60)).select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    # both join sides derive from the same li scan: explicit aliases
    # keep the self-join keys unambiguous (Spark would otherwise
    # resolve both to one attribute - a trivially-true predicate)
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_supp")
    ).distinct()
    late_others = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_supp")
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_supp")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("y_orderkey"))
            & (F.col("l_suppkey") != F.col("y_supp")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_asof_join_events(spark, sf):
    """As-of join: for each click event, the latest error event of the
    same user at/before it."""
    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_event_id")
    )
    out = ops.as_of_join(clicks, errors, on="user_id")
    return out.select("user_id", "event_id", F.col("error_event_id_right").alias("last_error_id"))


def q_asof_join_nearest(spark, sf):
    """Directional as-of (pandas merge_asof parity): for each click,
    the NEAREST error event of the same user by absolute time —
    both-direction fills in the same single-shuffle union+window plan,
    picked by exact integer microsecond distance, ties to backward."""
    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_event_id")
    )
    out = ops.as_of_join(
        clicks, errors, on="user_id", direction="nearest"
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("error_event_id_right").alias("nearest_error_id"),
    )


def q_range_join_parts(spark, sf):
    """Pure interval join: the 3-row bins side is broadcast and the
    containment predicate runs map-side — parts never shuffle for the
    join (no fabricated equi-key)."""
    p = _t(spark, sf, "part")
    bins = spark.createDataFrame(
        [("small", 0, 15), ("medium", 15, 35), ("large", 35, 1000)],
        ["bucket", "lo", "hi"],
    )
    joined = ops.range_join(p, bins, on=None, point="p_size", lower="lo", upper="hi")
    return joined.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p_retailprice").cast(DEC)).cast("double").alias("sum_price"),
    )


def q_win_lag_lead(spark, sf):
    """Analytic window functions: per-customer order-to-order deltas."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.filter(F.col("o_custkey") <= 50).select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        (
            # NTZ won't cast straight to long; via timestamp (session UTC)
            F.col("o_orderdate").cast("timestamp").cast("long")
            - F.lag(F.col("o_orderdate").cast("timestamp").cast("long")).over(w)
        ).alias("secs_since_prev"),
    )


def q_win_rank_funcs(spark, sf):
    """Ranking-function battery: rank/dense_rank/percent_rank/
    cume_dist/ntile over order totals per status."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.filter(F.col("o_custkey") <= 200).select(
        "o_orderstatus",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_array_funcs(spark, sf):
    """Array-function battery: build per-nation customer-key arrays and
    exercise sort/slice/contains/intersect/size."""
    c = _t(spark, sf, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.array_sort(F.collect_list("c_custkey")).alias("keys")
    )
    return per_nation.select(
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.size("keys").alias("n_keys"),
        F.element_at("keys", 1).alias("first_key"),
        F.element_at("keys", -1).alias("last_key"),
        F.slice("keys", 1, 3).cast("string").alias("first3"),
        F.array_contains("keys", 1).alias("has_key_1"),
        F.size(F.array_intersect("keys", F.sequence(F.lit(0), F.lit(99)))).alias(
            "n_under_100"
        ),
    )


def q_percentiles(spark, sf):
    """Exact interpolated percentiles per order status."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


def q_string_funcs(spark, sf):
    """Scalar string-function battery over part names."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.length("p_name").alias("name_len"),
        F.substring("p_brand", 1, 5).alias("brand_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


def q_date_funcs(spark, sf):
    """Scalar date/time battery over order dates."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.quarter("o_orderdate").alias("q"),
    )


def q_conditional_agg(spark, sf):
    """Conditional aggregation (count_if / filtered sums) per priority."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.sum(
            F.when(F.col("o_totalprice") > 100_000, F.col("o_totalprice").cast(DEC)).otherwise(
                F.lit(0).cast(DEC)
            )
        )
        .cast("double")
        .alias("big_total"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_token_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.bpe_ish_token_count(ops.token_count(d)).select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


def q_text_quality_scores(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.quality_score(d).select(
        "doc_id", "n_tokens", "mean_word_len", "punct_ratio", "stopword_ratio", "quality"
    )


def q_text_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.lang_id(d).select("doc_id", "lang", "lang_pred")


def q_text_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.fingerprint(d).select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def q_text_winnow_fingerprints(spark, sf):
    """Winnowed rolling-hash fingerprints (MOSS scheme) — the
    edit-robust document fingerprint; pure per-row array math."""
    d = _t(spark, sf, "documents")
    return ops.winnow_fingerprints(d, k=8, window=4)


def q_dedup_exact_groups(spark, sf):
    d = _t(spark, sf, "documents")
    g = ops.exact_dup_groups(d)
    return g.select(
        "content_hash",
        "n_dups",
        "keep_id",
        F.md5(F.array_join(F.transform("member_ids", lambda x: x.cast("string")), ",")).alias(
            "members_fp"
        ),
    )


def q_dedup_minhash_signatures(spark, sf):
    d = _t(spark, sf, "documents")
    sig = ops.minhash_signature(d, num_perm=16)
    return sig.select(
        "doc_id",
        F.md5(F.array_join(F.transform("minhash", lambda x: x.cast("string")), ",")).alias("sig_fp"),
        F.element_at("minhash", 1).alias("mh_0"),
        F.element_at("minhash", 16).alias("mh_15"),
    )


def q_dedup_minhash_lsh_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.minhash_lsh_pairs(d, num_perm=16, bands=8)


def q_dedup_simhash_signatures(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.simhash(d, bits=32)


def q_dedup_ngram_jaccard_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    return ops.ngram_jaccard_pairs(d, threshold=0.12)


def q_dedup_containment_pairs(spark, sf):
    """Asymmetric shingle containment (quote/boilerplate-inclusion
    detection): pairs where |A∩B|/min-side clears 0.3 — the shared
    capped inverted-index stage of the jaccard path with asymmetric
    final scoring."""
    d = _t(spark, sf, "documents")
    return ops.shingle_containment_pairs(d, threshold=0.3)


def q_dedup_simhash_pairs(spark, sf):
    """SimHash near-dup pairs via the pigeonhole equi-join (exact,
    recall 1.0 — no theta self-join in the plan). 32-bit signatures:
    the 10x scale probe showed 16-bit segments (~5 bits each) saturate
    around 50k docs (candidates ~ N²/2^5); ~11-bit segments push the
    quadratic knee out by 2^6."""
    d = _t(spark, sf, "documents")
    return ops.simhash_pairs(d, bits=32, max_hamming=2)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_sim_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ops.brute_force_topk(e, q, k=5)


def q_sim_cosine_neardup_pairs(spark, sf):
    """Embedding near-dup via random-hyperplane LSH buckets + exact
    cosine verify — the 100 TB plan shape (equi-join on bucket, the
    corpus never theta-self-joins).

    The base corpus has no true near-dups (max inter-vector cosine
    ≈ 0.51), so the query plants them: 50 vectors re-enter with a 2×
    scale (cosine exactly 1.0 with their source). A scaled copy keeps
    every hyperplane sign bit, so LSH recall on the planted pairs is
    1.0 BY CONSTRUCTION — the exact all-pairs oracle stays exact."""
    e = _t(spark, sf, "embeddings")
    dups = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    corpus = e.unionByName(dups)
    return ops.lsh_bucketed_neardup_pairs(
        corpus, threshold=0.95, n_planes=12, dim=64, n_tables=4
    )


def q_sim_cosine_allpairs_ref(spark, sf):
    """Exact all-pairs cosine near-dup — the small-data REFERENCE path
    (O(n²) theta join; correct at oracle scale, superseded by
    lsh_bucketed_neardup_pairs / q_sim_cosine_neardup_pairs at 100 TB)."""
    e = _t(spark, sf, "embeddings")
    return ops.cosine_neardup_pairs(e, threshold=0.45)


def q_sim_semantic_dedup_pairs(spark, sf):
    """SemDeDup-style semantic near-dup: spherical k-means cells, exact
    cosine only within each cell — the TRAINED-partition alternative to
    random-hyperplane LSH (duplicates concentrate inside semantic
    clusters, so a data-following partition catches what random planes
    split). Same planted-duplicate protocol as the LSH query: 50
    vectors re-enter 2×-scaled; L2 normalization makes the copy
    bit-identical to its source (power-of-two scaling is exact in FP),
    so same-cell assignment and cosine 1.0 hold by construction while
    the unrolled-k-means DuckDB oracle stays exact.

    ``max_cell_size=150`` (VERDICT r5 #3): without it the self-join key
    is cent_id alone, so parallelism is capped at k=8 populated shuffle
    partitions — the straggler pattern at scale. With it, any cell over
    150 rows is LSH-subdivided and the join key becomes (cent_id,
    table, sub_bucket). At the oracle scale (sf0.01: 550 rows, max
    cell 77 measured) every cell is under the cap, so the guard path
    pins sub_bucket=0 and the result — and the exact unrolled oracle —
    are unchanged; at bench scale (sf0.1: cells 221-269) and beyond,
    the subdivision engages and pair work per key stays bounded.
    Planted-dup recall stays 1.0 under subdivision (identical unit
    vectors share every sign bit)."""
    e = _t(spark, sf, "embeddings")
    dups = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    corpus = e.unionByName(dups)
    return ops.semantic_dedup_pairs(
        corpus, k=8, max_iter=2, threshold=0.95, max_cell_size=150
    )


def q_sim_ivf_topk(spark, sf):
    """IVF approximate top-k (nlist=8, nprobe=2) judged by a recall
    verdict: the query runs BOTH the IVF and the exact top-k, counts
    overlapping (query, neighbor) pairs, and asserts aggregate
    recall ≥ 0.6 (measured 0.80-0.86 at the test scales; deterministic
    because the centroids are). The oracle expects the verdict TRUE —
    so the approximate path is judged on its contract, not just run."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    k = 5
    ivf = ops.ivf_topk(e, q, k=k, nlist=8, nprobe=2).select("query_id", "neighbor_id")
    exact = ops.brute_force_topk(e, q, k=k).select("query_id", "neighbor_id")
    hits = ivf.join(exact, ["query_id", "neighbor_id"], "inner").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = 10 * k
    return hits.select(
        F.lit(10).alias("n_queries"),
        F.lit(k).alias("k"),
        (F.col("n_hits") >= F.lit(int(0.6 * total))).alias("recall_ok"),
    )


def q_sim_embedding_norms(spark, sf):
    e = _t(spark, sf, "embeddings")
    from graph_etl_spark.operators.similarity import norm

    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(F.round(norm(F.col("embedding")), 6)), 4).alias("avg_norm"),
    )


# ---------------------------------------------------------------------------
# graph algorithms (GraphX-style, DataFrame-native)
# ---------------------------------------------------------------------------


def _nation_graph(spark, sf):
    """Small directed graph: customer -> nation -> region, ids
    namespaced by prefix to avoid key collisions."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    cn = c.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
    )
    nr = n.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey")).alias("dst"),
    )
    return cn.unionByName(nr)


def q_graph_degrees(spark, sf):
    return ops.degrees(_nation_graph(spark, sf))


def q_graph_betweenness(spark, sf):
    """Sampled Brandes betweenness over the customer->nation->region
    graph, exact for the 8 seed customers (c_custkey < 9), 4 hops:
    synchronized multi-source BFS forward (exact integer sigma) +
    level-by-level dependency accumulation backward; the oracle
    unrolls the identical levels in SQL. Nations and the regions
    bridging the seeds' shortest paths carry the mass."""
    seeds = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") < 9)
        .select(F.concat(F.lit("c"), F.col("c_custkey")).alias("id"))
    )
    return ops.betweenness_sample(
        _nation_graph(spark, sf), seeds, max_hops=4
    )


def q_graph_connected_components(spark, sf):
    """Dedup clustering: connected components over the n-gram-Jaccard
    near-dup pair graph; singleton docs keep their own id."""
    d = _t(spark, sf, "documents")
    pairs = ops.ngram_jaccard_pairs(d, threshold=0.12)
    return ops.dedup_clusters(pairs, d.select("doc_id"))


def q_graph_scc(spark, sf):
    """Strongly connected components over the DIRECTED shingle-
    containment graph: edge a → b when A is contained in B at ≥ 0.3
    (each ≥-threshold direction of `shingle_containment_pairs`
    contributes an edge). SCCs = mutual-containment clusters — the
    near-identical documents that quote each other — while one-way
    quote/boilerplate chains stay transient singletons; the directed
    analog of dedup_clusters' undirected components, and the Markov
    recurrent-class decomposition applied to dedup. Runs trim +
    forward-backward coloring with hashed-order pointer-jumped
    fixpoints (operators/graph.py strongly_connected_components);
    oracle = recursive transitive closure + mutual-reachability min.
    47 verts / 23 SCCs at sf0.01; 516 verts / 272 SCCs at sf0.1."""
    d = _t(spark, sf, "documents")
    # pinned once: both direction filters AND the SCC's vertex/edge
    # derivations re-reference this frame — unpinned, the shingle
    # inverted-index pipeline would execute ~4x
    pairs = ops.shingle_containment_pairs(d, threshold=0.3).localCheckpoint(
        eager=True
    )
    e1 = pairs.filter(F.col("containment_a") >= 0.3).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    e2 = pairs.filter(F.col("containment_b") >= 0.3).select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
    )
    return ops.strongly_connected_components(e1.unionByName(e2))


def q_graph_triangles(spark, sf):
    """Per-part triangle counts over the order co-purchase graph (two
    parts in one order share an undirected edge, 1995 shipments —
    the year filter prunes at the scan): the wedge-join enumeration
    with canonical ordering — each triangle generated once. 2.6k
    edges / 523 triangles at sf0.01."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    copurchase = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return ops.triangle_count(copurchase)


def q_graph_pagerank(spark, sf):
    """PageRank power iteration (10 rounds, damping 0.85) on the
    customer->nation->region graph."""
    return ops.pagerank(_nation_graph(spark, sf), max_iter=10)


def q_graph_personalized_pagerank(spark, sf):
    """Personalized PageRank (10 rounds, damping 0.85) on the
    customer->nation->region graph, teleport + dangling mass
    restricted to the 19 seed customers c_custkey < 20 — the
    importance-from-a-viewpoint score; the oracle unrolls the same
    seed-teleport iterations."""
    seeds = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") < 20)
        .select(F.concat(F.lit("c"), F.col("c_custkey")).alias("id"))
    )
    return ops.personalized_pagerank(
        _nation_graph(spark, sf), seeds, max_iter=10
    )


def q_dedup_neardup_survivors(spark, sf):
    """End-to-end near-dup dedup — the full 'dedup the corpus' pipeline
    a training-data run executes, as one plan: MinHash banded-LSH
    candidate pairs → connected components over the pair graph → one
    canonical survivor (min doc_id) per cluster with the member count
    it absorbs. Composition of ops.minhash_lsh_pairs (bucketed
    equi-join, never all-pairs) + ops.dedup_clusters (pointer-jumping
    CC, O(log d) rounds) — both shapes hold at 100 TB."""
    d = _t(spark, sf, "documents")
    pairs = ops.minhash_lsh_pairs(d, num_perm=16, bands=8)
    clusters = ops.dedup_clusters(pairs, d.select("doc_id"))
    return clusters.groupBy(F.col("cluster_id").alias("survivor_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def _docs_as_binary(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", F.col("text").cast("binary").alias("payload"))


def q_mm_binary_metadata(spark, sf):
    b = _docs_as_binary(spark, sf)
    return ops.attach_binary_metadata(b).select(
        "doc_id", "n_bytes", "content_digest", "media_type"
    )


def q_mm_frame_sample(spark, sf):
    b = _docs_as_binary(spark, sf)
    return ops.frame_sample_plan(b, every_n_bytes=64, max_frames=8)


def q_mm_decode_stub(spark, sf):
    """mapInPandas Arrow-batched decode plumbing. The stub decoder is
    deterministic byte arithmetic, so the Python stage gets a FULL SQL
    oracle (the reason to stub deterministically rather than randomly:
    the plumbing itself becomes verifiable)."""
    b = _docs_as_binary(spark, sf)
    return ops.decode_image_stub(b).select(
        "doc_id", "media_type", "n_bytes", "width", "height", "channels"
    )


def q_mm_decode_real(spark, sf):
    """REAL image decode end-to-end (VERDICT r9 #3): per doc a REAL
    PNG is synthesized (mapInPandas; stdlib zlib encoder, geometry and
    RGB pixels closed-form in doc_id), then DECODED for real — zlib
    inflate + scanline unfilter, no imaging library — and reduced to
    exact integer pixel aggregates. The oracle recomputes the
    aggregates from the pixel FORMULA alone (never touching a PNG
    byte), so a hash-exact match certifies the codec round-trips
    bit-for-bit through the Arrow-batched Python stage."""
    d = _t(spark, sf, "documents").select("doc_id")
    pngs = ops.synth_png_column(d, "doc_id")
    return ops.decode_image(pngs).select(
        "doc_id", "media_type", "width", "height", "channels",
        "pixel_sum", "n_pixels",
    )


def q_mm_video_frames(spark, sf):
    """REAL video decode end-to-end (1→N frame rows): per doc a REAL
    YUV4MPEG2 C420 clip is synthesized (luma closed-form in doc_id),
    decoded for real (header parse + planar frame split — no media
    library), and reduced to exact per-frame luma aggregates. The
    oracle recomputes them from the luma FORMULA alone."""
    d = _t(spark, sf, "documents").select("doc_id")
    clips = ops.synth_y4m_column(d, "doc_id")
    return ops.video_frame_features(clips).select(
        "doc_id", "frame_idx", "width", "height",
        "luma_sum", "luma_min", "luma_max",
    )


def q_mm_audio_windows(spark, sf):
    """Per-window audio segmentation features over REAL WAV decode
    (1→N rows): 64-sample windows, exact integer sum / energy /
    peak-abs per window — the VAD/silence-trim preprocessing stage.
    The oracle recomputes every window aggregate from the sample
    FORMULA alone."""
    d = _t(spark, sf, "documents").select("doc_id")
    wavs = ops.synth_wav_column(d, "doc_id")
    return ops.audio_window_features(wavs, window_samples=64).select(
        "doc_id", "window_idx", "n_samples",
        "sample_sum", "energy", "peak_abs",
    )


def q_mm_audio_features(spark, sf):
    """REAL audio decode end-to-end: per doc a REAL RIFF/WAVE PCM16
    payload is synthesized (samples closed-form in doc_id), decoded
    for real (chunk walk + int16 frames — no audio library), and
    reduced to exact integer features. The oracle recomputes peak/
    trough/sum/duration from the sample FORMULA alone — a hash-exact
    match certifies the WAV codec round trip bit-for-bit."""
    d = _t(spark, sf, "documents").select("doc_id")
    wavs = ops.synth_wav_column(d, "doc_id")
    return ops.audio_features(wavs).select(
        "doc_id", "media_type", "sample_rate", "n_channels",
        "n_samples", "duration_ms", "peak", "trough", "sample_sum",
    )


# ---------------------------------------------------------------------------
# corpus-quality operators (operators/quality.py)
# ---------------------------------------------------------------------------


def q_quality_repetition_stats(spark, sf):
    """Gopher-style per-doc repetition signals — drop-or-keep features
    computed with zero shuffle."""
    d = _t(spark, sf, "documents")
    return ops.repetition_stats(d).select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        "top_word_frac",
        "adjacent_repeat_frac",
        "token_entropy",
    )


def q_quality_hash_sample(spark, sf):
    """Stratified deterministic sampling: 5% of 'en', 100% of 'fr',
    20% default — the reproducible rebalancing primitive (same rows
    selected on ANY engine/partitioning, unlike df.sample)."""
    d = _t(spark, sf, "documents")
    return ops.stratified_hash_sample(
        d, strata_col="lang", rates_permille={"en": 50, "fr": 1000}, default_permille=200
    ).select("doc_id", "lang", "source")


def q_quality_source_quota(spark, sf):
    """Per-source quota cap (C4/RefinedWeb-style domain cap): keep at
    most 10 docs per source, chosen by deterministic content-hash
    order — so a giant domain cannot dominate the training mix and the
    surviving subset is reproducible on any engine/partitioning."""
    d = _t(spark, sf, "documents")
    return ops.source_quota_cap(d, cap=10).select(
        "doc_id", "lang", "source", "quota_rank"
    )


def q_quality_boilerplate_ngrams(spark, sf):
    """Corpus-level template detection: word 5-grams shared by >= 3
    documents (boilerplate that pairwise near-dup misses)."""
    d = _t(spark, sf, "documents")
    return ops.boilerplate_ngrams(d, n=5, min_df=3)


def q_quality_scrub_contact(spark, sf):
    """PII scrub over planted contact strings: every 5th doc gets a
    deterministic email + URL appended, so redaction counts and the
    scrubbed text are oracle-checkable (not vacuously zero)."""
    d = _t(spark, sf, "documents")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or https://ex.com/"),
                F.col("doc_id"),
            ),
        ).otherwise(F.col("text")),
    )
    return ops.scrub_contact_strings(planted).select(
        "doc_id", "n_emails", "n_urls", F.md5("scrubbed").alias("scrub_fp")
    )


def q_quality_tfidf_top_terms(spark, sf):
    """Per-doc top-3 TF-IDF terms; tf per-row (array exprs), df
    map-side-combined, N broadcast — no (doc,term) tf shuffle."""
    d = _t(spark, sf, "documents")
    return ops.tfidf_top_terms(d, k=3)


def q_quality_contamination(spark, sf):
    """Benchmark decontamination: docs 0-19 stand in for an eval set;
    every doc is scored for 3-gram overlap against it (a doc in the
    'benchmark' overlaps itself fully — the planted positive)."""
    d = _t(spark, sf, "documents")
    benchmark = d.filter(F.col("doc_id") < 20)
    return ops.contamination_report(d, benchmark, shingle_n=3)


def q_quality_pack_sequences(spark, sf):
    """Concat-and-split sequence packing into 512-token bins, sharded
    by id hash so no global sort serializes the corpus."""
    d = _t(spark, sf, "documents")
    return ops.pack_sequences(d, token_budget=512, n_shards=8)


def q_quality_gate(spark, sf):
    """The streaming admission filter's BATCH twin, oracle-checked:
    ``streaming_quality_gate`` is the same stateless plan on a batch or
    a readStream frame, so a green batch verdict certifies the exact
    expressions the live stream runs. Contacts are planted on every
    5th doc (the scrub battery's scheme) and ``max_contact_strings=1``
    so the contact gate actually drops them; the token/repetition
    gates filter the rest."""
    from graph_etl_spark.streaming import streaming_quality_gate

    d = _t(spark, sf, "documents")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or https://ex.com/"),
                F.col("doc_id"),
            ),
        ).otherwise(F.col("text")),
    )
    gated = streaming_quality_gate(
        planted, min_tokens=10, max_dup_word_frac=0.5, max_contact_strings=1
    )
    return gated.select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        "token_entropy",
        "n_emails",
        "n_urls",
        F.md5("scrubbed").alias("scrubbed_fp"),
    )


def q_quality_chunk_documents(spark, sf):
    """RAG-style document chunking: 64-token windows, 16-token overlap
    (stride 48) — one row per chunk with a stable start-derived
    chunk_id; zero-shuffle map-only plan."""
    d = _t(spark, sf, "documents")
    return ops.chunk_documents(d, chunk_tokens=64, overlap=16)


def q_dedup_passages(spark, sf):
    """Sub-document exact dedup (CCNet paragraph-dedup analog over
    32-token passages): corpus-wide first occurrence survives, docs
    reassembled from surviving passages. Two-shuffle plan (hash-rank
    window + per-doc reassembly)."""
    d = _t(spark, sf, "documents")
    return ops.passage_dedup(d, passage_tokens=32)


def q_dedup_span_scrub(spark, sf):
    """Exact duplicate-SPAN removal (Lee et al. 2022 substring-dedup
    analog): every overlapping 8-token gram is position-hashed; grams
    seen earlier in (doc_id, pos) order mark their token range for
    removal, so one copy of each duplicated span survives corpus-wide
    at ANY offset (vs passage_dedup's fixed windows). Output reports
    merged removed-interval counts and the scrubbed text."""
    d = _t(spark, sf, "documents")
    return ops.dup_span_scrub(d, span_tokens=8)


def q_dedup_incremental(spark, sf):
    """Incremental (nightly-crawl) dedup: vet a NEW batch against the
    EXISTING indexed corpus. Index = doc_id % 3 != 0; batch = the rest
    plus planted copies (3 index re-crawls -> exact_index, 3
    within-batch dupes at higher ids -> exact_batch) so every verdict
    path is exercised. Near-dup = shared MinHash LSH band bucket with
    an index doc — semi-join shaped, no pair generation."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    idx = d.filter(did % 3 != 0)
    bat = (
        d.filter(did % 3 == 0)
        .unionByName(
            d.filter((did % 3 != 0) & (did < 5)).select(
                (did + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter((did % 3 == 0) & (did < 7)).select(
                (did + 200000).alias("doc_id"), "text"
            )
        )
    )
    return ops.incremental_dedup(idx, bat)


def q_quality_unigram_logprob(spark, sf):
    """Corpus-trained unigram LM score (KenLM-style quality filter
    analog): per-doc mean ln P(token). Decimal-exact in-doc sums make
    the score partitioning-independent and oracle-checkable."""
    d = _t(spark, sf, "documents")
    return ops.unigram_logprob(d)


def q_quality_mixture_sample(spark, sf):
    """Temperature-weighted data mixing (GPT-3/LLaMA corpus-recipe
    analog): per-source weights ∝ tokens^0.5, token budget 300‰ of
    the corpus, deterministic hash membership. Output is the
    per-source audit: weight, rate, and what actually survived.
    τ=0.5 goes through sqrt (IEEE correctly-rounded), per-source
    weights sum as DECIMAL — bit-exact against the DuckDB oracle."""
    d = _t(spark, sf, "documents")
    sampled = ops.mixture_sample(d, target_permille=300, temperature=0.5)
    return (
        sampled.groupBy("source", "weight", "rate_ppm")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")))
            .cast("long")
            .alias("sampled_tokens"),
        )
        .select("source", "weight", "rate_ppm", "n_sampled", "sampled_tokens")
    )


def q_text_bpe_merges(spark, sf):
    """Corpus-trained BPE merge rules (Sennrich et al. 2016), 3
    rounds: the tokenizer-training stage. Per round: one map-side-
    combinable pair count over the distinct-word frequency table plus
    a 1-row argmax collect; merge application is a literal string
    replace. Hash-exact vs a 3-round unrolled DuckDB chain (count
    ties break on the pair lexicographically)."""
    d = _t(spark, sf, "documents")
    return ops.bpe_learn_merges(d, rounds=3)


def q_quality_clf_weights(spark, sf):
    """Model-based quality filtering trained IN-ENGINE: logistic
    regression distilling the heuristic gate (label = length band +
    dup-word fraction) over [bias, centered dup, capped length, 16
    hashed bag-of-words buckets], 8 gradient iterations at lr=4 —
    train accuracy 0.78/0.80 at sf0.01/0.1. Hash-exact against an
    8-iteration unrolled DuckDB chain (decimal-summed gradients,
    round-6 weights per iteration)."""
    d = _t(spark, sf, "documents")
    return ops.quality_classifier_train(d, dim=16, iters=8, lr=4.0)


def q_quality_curriculum_order(spark, sf):
    """Deterministic curriculum ordering: quality-banded (10 bands),
    16 hash sub-buckets per band so ranking parallelism is
    band×bucket (not band), reproducible H56 within-band order.
    Total training order = (band DESC, sub_bucket, train_rank)."""
    d = _t(spark, sf, "documents")
    return ops.curriculum_order(d, n_bands=10, sub_buckets=16)


def q_quality_bigram_logprob(spark, sf):
    """Interpolated bigram LM score (lambda=0.7 bigram + 0.3 unigram;
    first token unigram-only): one step closer to the KenLM
    perplexity filter than the unigram query. Decimal-exact in-doc
    sums; the interpolation literals mirror the oracle's exactly
    (1.0 - 0.7 in BOTH engines — the SQL literal 0.3 is a different
    double)."""
    d = _t(spark, sf, "documents")
    return ops.bigram_logprob(d, lam=0.7)


def q_quality_trigram_ppl(spark, sf):
    """CCNet-style perplexity filter completed (VERDICT r7 #5):
    interpolated TRIGRAM LM (λ3=0.6 tri + λ2=0.3 bi + λ1=0.1 uni;
    position-aware head backoff) emitting per-document PERPLEXITY —
    the number a KenLM-stage filter thresholds on. Trained on a
    HELD-OUT deterministic half of the corpus (hash_sample 500‰, the
    CCNet train/score split — self-training would make singleton
    sequences perfectly predictable and score gibberish LOW); unseen
    tokens take the 0.5/total OOV floor. Decimal-exact in-doc logprob
    sums; ppl = round(exp(−avg), 4), the same last-ulp bet as the
    green ln oracles."""
    d = _t(spark, sf, "documents")
    train = ops.hash_sample(d, permille=500, salt="lm")
    return ops.trigram_perplexity(d, lam3=0.6, lam2=0.3, train_df=train)


def q_quality_ppl_gate(spark, sf):
    """The perplexity filter WIRED INTO the quality gate (VERDICT r7
    #5): trigram ppl per doc → CCNet band trim (drop the 5% lowest-ppl
    degenerate tail and the 10% highest-ppl gibberish tail, rank mode
    for oracle-exactness; production passes literal thresholds from a
    held-out sample — map-side) → intersect with the heuristic token/
    repetition gate. Output: the admitted docs with their LM stats."""
    from graph_etl_spark.streaming import streaming_quality_gate

    d = _t(spark, sf, "documents")
    train = ops.hash_sample(d, permille=500, salt="lm")
    scored = ops.trigram_perplexity(d, lam3=0.6, lam2=0.3, train_df=train)
    banded = ops.ppl_band_filter(scored, lo_permille=50, hi_permille=900)
    gate = streaming_quality_gate(
        d, min_tokens=10, max_dup_word_frac=0.5, max_contact_strings=10
    )
    return banded.join(
        gate.select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "n_tokens", "avg_logprob", "ppl")


def q_text_bpe_encode(spark, sf):
    """Tokenizer loop CLOSED: learn 3 BPE merge rounds on the corpus,
    then encode every document under the learned rules — per doc the
    word count, post-merge symbol count, and an md5 fingerprint of
    the full symbol sequence in word order. The oracle re-learns the
    same rules (the text_bpe_merges unrolled chain) and re-encodes —
    hash-exact end-to-end."""
    d = _t(spark, sf, "documents")
    merges = ops.bpe_learn_merges(d, rounds=3)
    enc = ops.bpe_encode(d, merges)
    return enc.select(
        "doc_id", "n_words", "n_symbols", F.md5("encoded").alias("encoded_fp")
    )


def q_sim_random_projection(spark, sf):
    """Johnson-Lindenstrauss random projection (64 -> 8 dims): the
    cheap ANN prefilter — deterministic md5-derived projection rows,
    exploded to (vec_id, k, proj_val) so the oracle compares every
    component bit-for-bit (both engines evaluate literal plane
    components embedded from the same Python md5 arithmetic)."""
    e = _t(spark, sf, "embeddings")
    proj = ops.random_projection(e, out_dim=8, dim=64)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("k", "proj_val")
    )


def q_text_bm25_rank(spark, sf):
    """BM25 top-20 for a three-term query over the documents table —
    one stats aggregation (N, total length, per-term document
    frequencies as conditional sums), broadcast back, map-side
    per-doc scoring, deterministic (score desc, id asc) ranking."""
    d = _t(spark, sf, "documents")
    return ops.bm25_rank(d, ["vector", "hash", "spark"], k=20)


def q_graph_kcore(spark, sf):
    """4-core of the 1995 co-purchase graph (the graph_triangles
    source): iterative peeling until fixpoint — each round removes
    the whole sub-4 shell (6-7 rounds to converge at the test
    scales). The oracle unrolls 10 peel rounds; extra rounds past the
    fixpoint are no-ops, so both engines land on the same maximal
    subgraph. Output: surviving vertices with their core degrees."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    copurchase = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return ops.kcore(copurchase, k=4, max_iter=15)


def q_quality_dataset_split(spark, sf):
    """Deterministic 900/50/50 train/val/test partition: H56-bucketed
    membership decidable per id (leak-proof under repartitioning) —
    verified by per-split counts and id extremes."""
    d = _t(spark, sf, "documents")
    out = ops.dataset_split(d)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def q_text_url_dedup(spark, sf):
    """Crawl-frontier URL dedup: four planted variants per page
    (scheme case, www, trailing slash, fragment) collapse to one
    canonical form; the lowest doc_id survives per page."""
    d = _t(spark, sf, "documents").select("doc_id")
    page = F.expr("doc_id DIV 4").cast("string")
    variant = F.col("doc_id") % 4
    url = (
        F.when(variant == 0, F.concat(F.lit("https://Example.com/page"), page))
        .when(variant == 1, F.concat(F.lit("http://www.example.com/page"), page, F.lit("/")))
        .when(variant == 2, F.concat(F.lit("https://example.com/page"), page, F.lit("#frag")))
        .otherwise(F.concat(F.lit("www.EXAMPLE.com/page"), page))
    )
    out = ops.url_dedup(d.withColumn("url", url))
    return out.select("doc_id", "url", "canonical_url")


def q_text_normalize(spark, sf):
    """Canonical text normalization over accent/control/whitespace
    noise planted per doc_id class — output compares the normalized
    form's md5 plus length deltas, so every branch of the chain
    (accent fold, control strip, whitespace collapse, trim) is
    hash-verified."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    noisy = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("  Héllo\tWörld  "), F.col("text")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.col("text"), F.lit(" naïve  café\u0007")))
        .otherwise(F.upper(F.col("text"))),
    )
    out = ops.normalize_text(noisy)
    return out.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length("text_norm").alias("norm_len"),
        F.md5("text_norm").alias("norm_fp"),
    )


def q_text_textrank_keywords(spark, sf):
    """TextRank keywords: pagerank (10 rounds) over the undirected
    window-2 word co-occurrence graph, top-15 by rank — the
    graph-centrality complement to RAKE, reusing ops.pagerank
    unchanged over the vocabulary-sized graph."""
    from graph_etl_spark.operators.text import textrank_keywords

    return textrank_keywords(
        _t(spark, sf, "documents"), cooc_window=2, top_k=15, max_iter=10
    )


def q_text_zipf_fit(spark, sf):
    """Zipf's-law slope over the top-100 token frequencies (corpus
    health: natural text near -1, template floods collapse toward 0):
    exact counts, 9-dp decimal logs so the OLS sums are order-free,
    one final division."""
    from graph_etl_spark.operators.text import zipf_fit

    return zipf_fit(_t(spark, sf, "documents"), top_k=100)


def q_etl_key_skew_report(spark, sf):
    """The 'should I salt this join?' diagnostic: top-10 order keys of
    lineitem by frequency with their row share — one count
    aggregation + TakeOrderedAndProject."""
    return ops.key_skew_report(_t(spark, sf, "lineitem"), "l_orderkey", top=10)


def q_events_rfm_segments(spark, sf):
    """RFM lifecycle segmentation: per-user recency (vs corpus max
    ts), frequency, decimal monetary sum, each banded 1-5 by EXACT
    global rank via the two-phase shape — zero unpartitioned windows
    over the data-sized user set."""
    return ops.rfm_segments(_t(spark, sf, "events"), n_bands=5)


def q_events_funnel_windowed(spark, sf):
    """Conversion-window funnel: signup -> view -> purchase with every
    later step inside 24 h of the signup first touch — the
    'converted within N' semantics product funnels report; counts are
    pointwise <= the unbounded funnel."""
    e = _t(spark, sf, "events")
    return ops.funnel_windowed_counts(
        e, ["signup", "view", "purchase"], window_seconds=86400
    )


def q_events_funnel(spark, sf):
    """Ordered signup -> view -> purchase funnel: per prefix, users
    completing it in order (each step strictly after the previous
    step's FIRST completion) — k chained per-user min-aggregations
    over one hash partitioning."""
    e = _t(spark, sf, "events")
    return ops.funnel_counts(e, ["signup", "view", "purchase"])


def q_events_cohort_ltv(spark, sf):
    """Weekly cohort LTV triangle — retention's revenue sibling: per
    (first-seen-week cohort, offset) the distinct active users, the
    exact 4-dp decimal value sum, and the cumulative LTV per cohort
    (decimal-exact accumulation, doubles only in the final view)."""
    return ops.cohort_ltv(_t(spark, sf, "events"), period_days=7)


def q_graph_assortativity(spark, sf):
    """Degree assortativity of the 1995 co-purchase graph: Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    exact decimal(38,0) moments, one double expression (the symmetric
    form: variance(x) = variance(y), no sqrt)."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return ops.degree_assortativity(edges)


def q_events_burstiness(spark, sf):
    """Per-user burstiness B = (sigma-mu)/(sigma+mu) over inter-event
    gaps (Goh-Barabasi): exact integer-second gaps off a
    (ts, event_id)-ordered lag window, decimal(38,0) moments, one
    double mean/sigma/B chain rounded at the end."""
    return ops.burstiness(
        _t(spark, sf, "events"), tie_cols=["event_id"]
    )


def q_events_retention(spark, sf):
    """Weekly cohort retention triangle: users bucketed by first-seen
    epoch-week (integer DIV arithmetic — no calendar ambiguity),
    counted in every later week they return."""
    e = _t(spark, sf, "events")
    return ops.retention_cohorts(e, period_days=7)


def q_basket_frequent_pairs(spark, sf):
    """Market-basket frequent pairs (k=2 itemsets) over order
    baskets: parts co-purchased in >= 3 orders (63 pairs at sf0.01 —
    selective but non-vacuous) — within-basket
    canonical pairs only (candidate work bounded by basket sizes,
    never corpus²)."""
    li = _t(spark, sf, "lineitem")
    return ops.frequent_pairs(li, basket_col="l_orderkey", item_col="l_partkey", min_support=3)


def q_text_entity_clusters(spark, sf):
    """Entity RESOLUTION end-to-end: q-gram-blocked fuzzy pairs over
    part names (edit distance <= 2) become an undirected similarity
    graph, pointer-jumping connected components collapse variant
    spellings into entities, and each cluster reports its canonical
    (minimum) name + member count — the fuzzy_pairs -> CC composition
    a master-data pipeline runs. Singleton names keep themselves."""
    p = _t(spark, sf, "part")
    names = p.select(F.col("p_name").alias("name")).filter(
        F.col("name").isNotNull()
    ).distinct()
    pairs = ops.fuzzy_pairs(p, col="p_name", max_dist=2)
    cc = ops.connected_components(
        pairs.select("name_a", "name_b"),
        vertices=names.select(F.col("name").alias("id")),
        src="name_a",
        dst="name_b",
    )
    return cc.groupBy(F.col("component").alias("entity")).agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.max("id").alias("max_variant"),
    )


def q_events_threshold_crossings(spark, sf):
    """The stateful streaming alert operator's BATCH twin (the
    quality-gate certification pattern): per (user, event_type), the
    epoch seconds of the 10th event in (ts, event_id) order — the
    moment streaming_threshold_alerts fires its one-shot alert. A
    green verdict certifies the crossing semantics the
    applyInPandasWithState operator applies per micro-batch."""
    from graph_etl_spark.streaming import threshold_crossings

    e = _t(spark, sf, "events")
    return threshold_crossings(e, threshold=10)


def q_etl_fk_orphans(spark, sf):
    """Referential-integrity audit: three healthy TPC-H relations
    plus one deliberately restricted parent (suppliers of nations
    < 10) so the orphan path is exercised, not just zeros. One anti
    join per relation, map-side-combined counts."""
    li = _t(spark, sf, "lineitem")
    return ops_fn.fk_integrity(
        [
            (
                "orders_customer",
                _t(spark, sf, "orders"),
                "o_custkey",
                _t(spark, sf, "customer"),
                "c_custkey",
            ),
            (
                "lineitem_orders",
                li,
                "l_orderkey",
                _t(spark, sf, "orders"),
                "o_orderkey",
            ),
            (
                "supplier_nation",
                _t(spark, sf, "supplier"),
                "s_nationkey",
                _t(spark, sf, "nation"),
                "n_nationkey",
            ),
            (
                "lineitem_low_nation_suppliers",
                li,
                "l_suppkey",
                _t(spark, sf, "supplier").filter(F.col("s_nationkey") < 10),
                "s_suppkey",
            ),
        ]
    )


def q_etl_expectations(spark, sf):
    """Deequ-style expectation suite over customer, ONE scan for all
    six rules: pk not-null + unique (pass), balance >= 0 (violated by
    the negative-balance rows — non-vacuous), segment within an
    allowed set missing HOUSEHOLD (violated), name matching the
    Customer# pattern (pass), and balance <= 10000 (pass/fail as the
    data says) — violation counts + verdicts per rule."""
    c = _t(spark, sf, "customer")
    return ops.check_expectations(
        c,
        [
            {"col": "c_custkey", "kind": "not_null"},
            {"col": "c_custkey", "kind": "unique"},
            {"col": "c_acctbal", "kind": "min", "value": 0},
            {"col": "c_acctbal", "kind": "max", "value": 10000},
            {"col": "c_mktsegment", "kind": "in_set",
             "values": ["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE"]},
            {"col": "c_name", "kind": "matches", "pattern": "^Customer#[0-9]+$"},
        ],
    )


def q_events_attribution(spark, sf):
    """Last-touch conversion attribution: every purchase credited to
    the user's latest click/view strictly before it in the
    (ts, event_id) total order; unattributed purchases kept with NULL
    touch columns. One window shuffle on the user key — the oracle
    cross-checks with an independent join+row_number formulation."""
    e = _t(spark, sf, "events")
    return ops.attribution(e, "purchase", ["click", "view"], model="last_touch")


def q_etl_scd2_history(spark, sf):
    """SCD-2 dimension history from the event changelog: each user's
    event_type state collapsed to change intervals with
    (valid_from, valid_to, is_current) — ONE hash shuffle on the user
    key (tie-dedup, change-lag, and interval-lead all ride the same
    partitioning)."""
    e = _t(spark, sf, "events")
    return ops_fn.scd2_history(e, "user_id", "ts", "event_type")


def q_etl_cascade_delete(spark, sf):
    """GDPR-style erasure propagation: negative-balance customers
    deleted, their orders and those orders' lineitems cascading —
    per-table kept/deleted counts. The deletion key frames broadcast
    at every level; the fact tables never shuffle."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    seeds = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    purged = pipeline_mod.cascade_delete(
        seeds,
        [
            ("customer", cust, "c_custkey", "c_custkey"),
            ("orders", orders, "o_custkey", "o_orderkey"),
            ("lineitem", li, "l_orderkey", None),
        ],
    )
    originals = {"customer": cust, "orders": orders, "lineitem": li}
    out = None
    for name in ["customer", "orders", "lineitem"]:
        kept = purged[name].agg(F.count(F.lit(1)).alias("n_kept"))
        total = originals[name].agg(F.count(F.lit(1)).alias("__total"))
        row = kept.crossJoin(total).select(
            F.lit(name).alias("tbl"),
            "n_kept",
            (F.col("__total") - F.col("n_kept")).alias("n_deleted"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _copurchase_1995(spark, sf):
    """The shared graph-family input: 1995 co-purchase edges
    (parts on the same order, canonical src < dst)."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))


def q_graph_label_propagation(spark, sf):
    """Synchronous label propagation (3 fixed rounds, closed-
    neighborhood mode vote, ties to the smallest label) over the 1995
    co-purchase graph — deterministic communities the unrolled SQL
    oracle mirrors round for round."""
    return ops.label_propagation(_copurchase_1995(spark, sf), n_iter=3)


def q_graph_link_prediction(spark, sf):
    """Link prediction over the 1995 co-purchase graph: for every
    non-edge pair with >= 2 shared neighbors (wedge centers capped at
    degree 40 — the hub bound that keeps candidate growth linear),
    common-neighbor count, Adamic-Adar (per-term 6-dp decimal
    rounding, exact sum), and 6-dp Jaccard. The oracle mirrors the
    cap, the anti-join, and the rounding chain exactly."""
    return ops.link_prediction_scores(
        _copurchase_1995(spark, sf), min_common=2, max_degree=40
    )


def q_graph_bfs_distances(spark, sf):
    """Multi-source-capable BFS from the smallest vertex of the 1995
    co-purchase graph, capped at 3 hops: (id, hop distance) for every
    reached vertex. Frontier expansion with visited anti-join — the
    oracle is an independent recursive-CTE formulation taking MIN(d)
    per vertex."""
    cop = _copurchase_1995(spark, sf)
    sources = cop.agg(F.min("src").alias("id"))
    return ops.bfs_distances(cop, sources, max_hops=3)


def q_text_pmi_bigrams(spark, sf):
    """Corpus-level PMI of adjacent token pairs (min pair count 5):
    collocation mining from exact integer counts, the single ln per
    row evaluated in oracle-identical operand order and rounded to
    6 dp."""
    return ops.pmi_bigrams(_t(spark, sf, "documents"), min_count=5)


def q_quality_zscore_outliers(spark, sf):
    """Per-event-type z-score outliers (|z| > 2.5) over the event
    value stream: group moments from exact integer-unit sums, the
    final z one IEEE-double expression both engines evaluate
    identically."""
    e = _t(spark, sf, "events")
    return ops.zscore_outliers(e, "event_type", "value", threshold=2.5).select(
        "event_id", "event_type", "value", "z"
    )


def q_events_rolling_median(spark, sf):
    """Per-user rolling LOWER median (trailing 5 events ordered by
    (ts, event_id) — the unique tie-break keeps window contents
    deterministic) of the event value: the robust smoother next to
    moving_avg. One window shuffle; the pick is exact decimal
    indexing, no averaging arithmetic."""
    e = _t(spark, sf, "events")
    return ops.rolling_median(
        e, "user_id", ["ts", "event_id"], "value", window_size=5
    ).select("event_id", "user_id", "rolling_median")


def q_etl_snapshot_diff(spark, sf):
    """Change-data-capture between two customer snapshots (the 'new'
    snapshot simulated in-plan: every 17th key removed, every
    (mod 10 == 3) balance bumped, a shifted-key slice added):
    added/removed/changed per key with the changed column list —
    ONE full outer join on the key."""
    c = _t(spark, sf, "customer")
    new = (
        c.filter(F.col("c_custkey") % 17 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 3, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 50 == 1).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    d = ops_fn.snapshot_diff(c, new, "c_custkey")
    return d.select(
        "c_custkey",
        "change_type",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


def q_quality_histogram(spark, sf):
    """Equi-width 8-bin histogram of order totals with in-plan
    min/max bounds (scalar broadcast — the price column never
    shuffles by value): bucket, 6-dp edges, count."""
    o = _t(spark, sf, "orders")
    return ops.numeric_histogram(o, "o_totalprice", n_bins=8)


def q_quality_corr_matrix(spark, sf):
    """Pairwise Pearson correlation of the four lineitem numeric
    measures in ONE scan — k(k+3)/2 exact integer-unit decimal sums
    to a single row, pair explosion on that 1-row frame; each r is
    one IEEE-double expression in oracle operand order."""
    li = _t(spark, sf, "lineitem")
    return ops.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_etl_mask_columns(spark, sf):
    """Deterministic pseudonymization of customer name and segment:
    sha256(salt:value) 16-hex tokens — equal inputs keep equal tokens
    (joins/dedup survive), NULLs stay NULL, map-side only."""
    c = _t(spark, sf, "customer")
    return ops.mask_columns(c, ["c_name", "c_mktsegment"], salt="r8").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_events_ewma(spark, sf):
    """Per-user truncated EWMA (alpha 0.3, trailing 8 rows ordered by
    the unique (ts, event_id)): Python-literal weights + an unrolled
    left-to-right multiply-add chain, so both engines execute the
    identical IEEE sequence. One window shuffle."""
    e = _t(spark, sf, "events")
    return ops.ewma(
        e, "user_id", ["ts", "event_id"], "value", alpha=0.3, window_size=8
    ).select("event_id", "user_id", "ewma")


def q_events_holt_forecast(spark, sf):
    """Per-user Holt linear-trend one-step forecast (alpha 0.3, beta
    0.2, trailing 8 non-null rows ordered by the unique (ts,
    event_id)): one left-fold recursion per row whose merge arithmetic
    is written identically on both engines, seeded l0 = oldest window
    value, b0 = 0. One window shuffle."""
    e = _t(spark, sf, "events")
    return ops.holt_linear(
        e, "user_id", ["ts", "event_id"], "value", alpha=0.3, beta=0.2,
        window_size=8,
    ).select("event_id", "user_id", "holt")


def q_events_seasonal_profile(spark, sf):
    """Per-event-type weekly load shape: (type, iso dow, hour) cell
    counts and the seasonality index cell*n_cells/total — one
    aggregation over <= types x 168 cells plus a broadcast roll-up,
    no second scan."""
    return ops.seasonal_profile(_t(spark, sf, "events"))


def q_events_seasonal_anomaly(spark, sf):
    """Seasonality-aware spikes: (type, date, hour) cells whose count
    exceeds 2x the mean of their own (type, iso-dow, hour) seasonal
    cell — exact integer flag cnt*n_days > 2*total, one rounded
    ratio for display."""
    return ops.seasonal_anomaly(_t(spark, sf, "events"), factor=2)


def q_events_markov(spark, sf):
    """First-order Markov transition matrix of user journeys:
    (from, to, count, row-stochastic p) from one lead window + a
    vocabulary-sized count table."""
    return ops.event_transitions(_t(spark, sf, "events"))


def q_text_inverted_index(spark, sf):
    """Materialized inverted index (min df 2, postings capped at 20
    AFTER sorting): term, exact df, comma-joined ascending doc ids —
    the serving-side complement to bm25_rank."""
    return ops.inverted_index(
        _t(spark, sf, "documents"), min_df=2, max_postings=20
    )


def q_graph_hits(spark, sf):
    """HITS hubs/authorities, 3 power-iteration rounds over the
    directed 1995 co-purchase edges: decimal-exact in-round sums,
    MAX-normalization (order-independent where L2 would reopen the
    double-summation hole) — the oracle unrolls the same 6
    half-steps."""
    return ops.hits(_copurchase_1995(spark, sf), max_iter=3)


def q_quality_negative_samples(spark, sf):
    """Deterministic contrastive-triplet mining: every 10th document
    anchored to its successor as the positive, 3 hash-drawn negatives
    each (H56 draws mod corpus size, collision draws discarded) —
    byte-reproducible training triplets on any engine/partitioning."""
    d = _t(spark, sf, "documents").select("doc_id")
    pairs = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("anchor_id"),
            (F.col("doc_id") + 1).alias("positive_id"),
        )
        .join(d.withColumnRenamed("doc_id", "positive_id"), "positive_id", "left_semi")
    )
    return ops.negative_samples(pairs, d, k=3, seed="neg")


def q_graph_bellman_ford(spark, sf):
    """Weighted shortest distances (Bellman-Ford, 4 relaxation
    rounds) from the smallest vertex of the 1995 co-purchase graph,
    integer edge weights (src+dst) % 5 + 1 — exact integer distances,
    no float ties. The oracle unrolls the same rounds; rounds past
    the fixpoint are no-ops on both sides."""
    cop = _copurchase_1995(spark, sf).withColumn(
        "w", (F.col("src") + F.col("dst")) % 5 + 1
    )
    sources = cop.agg(F.min("src").alias("id"))
    return ops.bellman_ford(cop, sources, weight="w", max_iter=4)


def q_events_enriched_stats(spark, sf):
    """Stream-static enrichment's batch twin: events looked up against
    the customer dimension (broadcast — the stream side never
    shuffles for the join), rolled up per market segment with the
    unmatched bucket kept as NULL."""
    e = _t(spark, sf, "events")
    dim = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    from graph_etl_spark.streaming import streaming_enrich

    return streaming_enrich(e, dim, "user_id").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q_etl_zorder_layout(spark, sf):
    """Morton (Z-order) clustering key over (l_extendedprice,
    l_quantity), 8 bits per dimension: the Delta/Iceberg OPTIMIZE
    ZORDER layout primitive — scalar bounds broadcast + pure integer
    shift/mask interleave, no shuffle until the caller's range
    partitioning."""
    li = _t(spark, sf, "lineitem")
    return ops.zorder_key(
        li, ["l_extendedprice", "l_quantity"], bits=8
    ).select("l_orderkey", "l_partkey", "l_linenumber", "zkey")


def q_quality_quantile_normalize(spark, sf):
    """Rank-based quantile of document length over the total
    (n_chars, doc_id) order — the heavy-tail-proof feature transform;
    one global sort, deterministic on any partitioning."""
    d = _t(spark, sf, "documents")
    return ops.quantile_normalize(d, "n_chars", "doc_id").select(
        "doc_id", "n_chars", "quantile"
    )


def q_events_ohlc(spark, sf):
    """Daily OHLC bars per event type: open/close by argmin/argmax
    over the unique epoch-nanos order key (no ties possible),
    high/low/sum over 4-dp decimals — ONE map-side-combined
    aggregation on the (type, day) key."""
    e = _t(spark, sf, "events")
    return ops.resample_ohlc(
        e, "event_type", "ts", "value", "event_id", bucket_seconds=86400
    )


def q_text_feature_hashing(spark, sf):
    """Hashing-trick featurization: tokens hash into 32 fixed buckets
    (H56 mod — vocabulary-free, no OOV), per-(doc, bucket) counts in
    sparse long format. Map-side explode + one aggregation."""
    return ops.feature_hashing(
        _t(spark, sf, "documents"), n_buckets=32
    )


def q_events_covisitation(spark, sf):
    """Composition query: gap-sessionize the event stream (30-min
    sessions), then mine within-session event-type pairs (support =
    sessions, min 5) — the co-visitation matrix behind session-based
    recommenders, reusing sessionize + frequent_pairs unchanged."""
    from graph_etl_spark.streaming import sessionize

    s = sessionize(_t(spark, sf, "events"), gap_minutes=30)
    baskets = s.select(
        F.concat_ws("#", F.col("user_id"), F.col("session_id")).alias("basket"),
        F.col("event_type").alias("item"),
    )
    return ops.frequent_pairs(baskets, "basket", "item", min_support=5)


def q_events_ohlc_windowed(spark, sf):
    """Batch twin of streaming_ohlc (the oracle convention for
    stateful streaming operators): the SAME aggregate expressions the
    watermarked stream runs, over F.window tumbling hours — open/close
    tie-free via the unique epoch-nanos key."""
    from graph_etl_spark.streaming import streaming_ohlc

    return streaming_ohlc(
        _t(spark, sf, "events"), window_duration="1 hour"
    )


def q_quality_group_percentiles(spark, sf):
    """Exact per-event-type p50/p95/p99 of the value stream (lower
    interpolation — an actual element, no averaging): one window
    shuffle, one pass for all three percentiles."""
    e = _t(spark, sf, "events")
    return ops.group_percentiles(e, "event_type", "value", [0.5, 0.95, 0.99])


def q_events_spike_detection(spark, sf):
    """Composition query: per-user rolling lower median (trailing 5)
    as the robust baseline, flag events spiking past 3x their own
    baseline — the anomaly monitor built from rolling_median
    unchanged."""
    e = _t(spark, sf, "events")
    smoothed = ops.rolling_median(
        e, "user_id", ["ts", "event_id"], "value", window_size=5
    )
    return smoothed.filter(
        (F.col("rolling_median") > 0)
        & (F.col("value") > 3 * F.col("rolling_median"))
    ).select("event_id", "user_id", "value", "rolling_median")


def q_events_session_windows(spark, sf):
    """Native session_window aggregation (batch form of the streaming
    query): per merged 30-min-gap session, start / end(= last event +
    gap) / event count — gap-close semantics identical to sessionize,
    verified against an independent sessionize-based oracle."""
    from graph_etl_spark.streaming import session_window_stats

    return session_window_stats(_t(spark, sf, "events"), gap="30 minutes")


def q_sim_ranking_eval(spark, sf):
    """Retrieval eval composition: exact cosine top-10 per query ->
    label-match relevance -> recall@5 / precision@5 / MRR per query.
    Closes the retrieval loop over the existing top-k operator with
    exact integer-count metrics."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    ranked = ops.brute_force_topk(e, q, k=10)
    labels = e.select("vec_id", "label")
    joined = (
        ranked.join(
            labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
                "label", "__ql"
            ),
            "query_id",
        )
        .join(
            labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                "label", "__nl"
            ),
            "neighbor_id",
        )
        .withColumn("is_relevant", F.col("__ql") == F.col("__nl"))
    )
    return ops.ranking_metrics(joined, k=5)


def q_quality_pr_curve(spark, sf):
    """Operating-point sweep of the heuristic quality score against
    the (lang == 'en') label: exact tp/fp/fn for four thresholds in
    ONE scan, precision/recall derived — the gate-threshold picker."""
    d = _t(spark, sf, "documents")
    scored = ops.quality_score(d).withColumn("__y", F.col("lang") == "en")
    return ops.pr_curve(scored, "quality", "__y", [0.3, 0.5, 0.7, 0.9])


def q_quality_calibration_bins(spark, sf):
    """Reliability diagram + ECE terms for a Platt-scaled heuristic:
    the English-stopword ratio mapped through sigmoid(40·sr − 2) as a
    claimed P(english), audited against the true (lang == 'en')
    label — the textbook calibration question (can this score be
    read as a probability?) over 10 equal-width bins with exact
    counts, decimal-exact confidences, and SUM(ece_term) = the
    expected calibration error (Guo et al. 2017). 9 non-empty bins
    and ECE ≈ 0.23/0.26 at sf0.01/0.1 — measurably miscalibrated,
    which is the point of the audit. One tiny groupBy + a 1-row
    broadcast total; pr_curve picks thresholds, this checks trust."""
    d = _t(spark, sf, "documents")
    scored = (
        ops.quality_score(d)
        .withColumn(
            "p_en",
            F.round(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.col("stopword_ratio") * 40 - 2))),
                6,
            ),
        )
        .withColumn("__y", F.col("lang") == "en")
    )
    return ops.calibration_bins(scored, "p_en", "__y", n_bins=10)


def q_sim_embedding_drift(spark, sf):
    """Per-dimension drift between two embedding snapshots (even vs
    odd vec_ids as the stand-in populations): decimal-exact dimension
    means + absolute deltas — the encoder/corpus-shift monitor."""
    e = _t(spark, sf, "embeddings")
    return ops.embedding_drift(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 2 == 1),
    )


def q_quality_winsorize(spark, sf):
    """Per-event-type winsorization into the exact [p01, p99] band:
    group_percentiles bounds broadcast back into the stream, values
    clipped map-side — every row kept, tail leverage bounded."""
    e = _t(spark, sf, "events")
    return ops.winsorize(
        e, "event_type", "value", lower_p=0.01, upper_p=0.99
    ).select("event_id", "event_type", "value", "winsorized")


def q_etl_apply_cdc(spark, sf):
    """Full CDC apply (I/U/D, highest log offset wins): balance bumps
    for every (mod 10 == 3) customer, deletes for every 17th,
    shifted-key inserts — ONE key shuffle (union + ranking window, no
    join). The oracle is an INDEPENDENT set-logic formulation
    (untouched ∪ updated-survivors ∪ inserts)."""
    c = _t(spark, sf, "customer")
    upd = (
        c.filter(F.col("c_custkey") % 10 == 3)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    dele = (
        c.filter(F.col("c_custkey") % 17 == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    ins = (
        c.filter(F.col("c_custkey") % 50 == 1)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("op", F.lit("I"))
        .withColumn("seq", F.lit(3).cast("long"))
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return ops_fn.apply_cdc(c, changes, "c_custkey")


def q_etl_scd2_pit(spark, sf):
    """Point-in-time join against SCD-2 intervals (the feature-store
    leak-proof lookup): each purchase probes the user's event_type
    state ONE SECOND BEFORE it — user-key equi-join + half-open
    [valid_from, valid_to) interval predicate over the scd2_history
    output."""
    e = _t(spark, sf, "events")
    hist = ops_fn.scd2_history(e, "user_id", "ts", "event_type").select(
        F.col("user_id").alias("h_user"),
        F.col("event_type").alias("prior_state"),
        "valid_from",
        "valid_to",
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 SECOND")).alias("pit_ts"),
    )
    return (
        probes.join(
            hist,
            (probes.user_id == hist.h_user)
            & (F.col("pit_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("pit_ts") < F.col("valid_to"))),
        )
        .select("event_id", "user_id", "prior_state")
    )


def q_graph_neighbor_stats(spark, sf):
    """One-hop structural features over the 1995 co-purchase graph:
    own degree + mean/max neighbor degree (the assortativity signal)
    — one degree aggregation + one vertex-keyed roll-up join."""
    return ops.neighbor_stats(_copurchase_1995(spark, sf))


def q_graph_random_walks(spark, sf):
    """Deterministic pseudo-random walks (node2vec corpus generation,
    reproducible by construction): 2 walks x 3 steps from every
    vertex of the 1995 co-purchase graph, each step the
    hash-argmin neighbor — the oracle unrolls the same steps."""
    return ops.random_walks(
        _copurchase_1995(spark, sf), walk_length=3, walks_per_node=2
    )


def q_graph_node2vec_walks(spark, sf):
    """Second-order biased walks (node2vec p/q search bias as a
    deterministic hash-argmin): 2 walks x 3 steps from every vertex
    of the 1995 co-purchase graph with return penalty p=4 and
    exploration penalty q=2 — backtracking discouraged, triangle
    closure preferred. The oracle unrolls the same steps with the
    same integer-penalty scoring."""
    return ops.node2vec_walks(
        _copurchase_1995(spark, sf), walk_length=3, walks_per_node=2, p=4, q=2
    )


def q_text_rake_keywords(spark, sf):
    """RAKE keyword extraction over documents: phrases are maximal
    non-stopword runs (English stoplist), word score = corpus-wide
    degree/frequency rounded to 6-dp decimal, phrase score the exact
    decimal sum — top-3 phrases per document. One per-document
    running-count window, one token-keyed aggregation, one
    per-document rank window."""
    from graph_etl_spark.operators.text import rake_keywords

    return rake_keywords(_t(spark, sf, "documents"), top_k=3)


def q_sim_mips_topk(spark, sf):
    """Exact maximum-inner-product top-k (DPR-style retrieval scoring
    where magnitude carries signal): 10 query vectors against the
    corpus, k=5; the oracle is the plain ranked dot product."""
    e = _t(spark, sf, "embeddings")
    return ops.mips_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_quality_shard_plan(spark, sf):
    """Contiguous-order corpus sharding: greedy 512-token budget cuts
    in doc_id order via the two-phase exact global prefix sum
    (boundary literals -> bucket-local running-sum windows +
    broadcast offsets — zero unpartitioned windows); a document
    belongs to the shard it starts in."""
    return ops.shard_plan(_t(spark, sf, "documents"), token_budget=512)


def q_quality_gini_tokens(spark, sf):
    """Corpus concentration audit: Gini coefficient of per-document
    token counts via the exact-integer rank formula (two-phase global
    rank, long products, one final IEEE division rounded to 6 dp)."""
    return ops.gini_coefficient(
        ops.token_count(_t(spark, sf, "documents")), "n_tokens", "doc_id"
    )


def q_sim_mips_ivf_topk(spark, sf):
    """Norm-augmented IVF MIPS (sqrt(M^2-|x|^2) extra coordinate makes
    augmented cosine monotone in the inner product) judged by a recall
    verdict against the exact mips_topk: scanned fraction nprobe/nlist
    = 1/4, aggregate recall must clear 0.6."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    k = 5
    approx = ops.mips_ivf_topk(e, q, k=k, nlist=8, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    exact = ops.mips_topk(e, q, k=k).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"], "inner").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = 10 * k
    return hits.select(
        F.lit(10).alias("n_queries"),
        F.lit(k).alias("k"),
        (F.col("n_hits") >= F.lit(int(0.6 * total))).alias("recall_ok"),
    )


def q_text_llr_collocations(spark, sf):
    """Dunning LLR collocations over adjacent bigrams (min count 5):
    exact contingency counts, four ln terms combined in fixed order,
    6-dp round — the significance-tested collocation score."""
    from graph_etl_spark.operators.text import llr_collocations

    return llr_collocations(_t(spark, sf, "documents"), min_count=5)


def q_approx_quantile_sketch(spark, sf):
    """Rank-sketch quantiles judged on the mergeable bound: for each
    of q in {0.25, 0.5, 0.9} over events.value, the EXACT rank of the
    estimate must sit within q*N +- (N/k + partitions). The estimate
    varies with partitioning; the bound may not."""
    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    k = 64
    est = ops.quantile_summary(e, "value", [0.25, 0.5, 0.9], k=k)
    rows = est.collect()
    n = rows[0]["n_total"]
    parts = e.rdd.getNumPartitions()
    bound = n / k + parts
    flags = []
    for r in rows:
        true_rank = e.filter(
            F.col("value").cast("double") <= F.lit(r["estimate"])
        ).count()
        flags.append(abs(true_rank - r["q"] * n) <= bound)
    return spark.createDataFrame(
        [(int(k), int(n > 0), int(all(flags)))],
        "k int, nonempty int, rank_bounds_ok int",
    )


def q_sim_l2_topk(spark, sf):
    """Exact Euclidean top-k (the third FAISS flat metric): 10 query
    vectors, k=5; the oracle is the plain ranked distance with the
    identical (dist asc, neighbor asc) tie order."""
    e = _t(spark, sf, "embeddings")
    return ops.l2_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_sim_maxsim_topk(spark, sf):
    """ColBERT-style MaxSim late interaction: label 0's vectors are
    the multi-vector query document, every other label a candidate;
    score = sum over query vectors of the max rounded dot — one
    broadcast of the query side, one (doc, qvec) max agg, one
    doc-keyed decimal sum, TakeOrderedAndProject top-5."""
    e = _t(spark, sf, "embeddings")
    return ops.maxsim_topk(
        e.filter(F.col("label") != 0),
        e.filter(F.col("label") == 0),
        k=5,
        doc_col="label",
    )


def q_approx_heavy_hitters(spark, sf):
    """Misra-Gries sketch judged on its mergeable-summary contract
    (k=3 counters over the 5 event types, so eviction really runs):
    every key with true freq > N/(k+1) must be present, every
    reported count must be a lower bound within N/(k+1) of truth,
    and the summary stays <= k rows. Oracle expects the verdict."""
    e = _t(spark, sf, "events")
    k = 3
    summary = ops.mg_heavy_hitters(e, "event_type", k=k)
    exact = e.filter(F.col("event_type").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    n_total = e.filter(F.col("event_type").isNotNull()).count()
    bound = n_total / (k + 1)
    j = exact.join(summary, "event_type", "left")
    missing_heavy = j.filter(
        (F.col("true_cnt") > F.lit(bound)) & F.col("mg_count").isNull()
    ).count()
    bad_bounds = (
        j.filter(F.col("mg_count").isNotNull())
        .filter(
            (F.col("mg_count") > F.col("true_cnt"))
            | ((F.col("true_cnt") - F.col("mg_count")) > F.lit(bound))
        )
        .count()
    )
    n_rows = summary.count()
    return spark.createDataFrame(
        [(int(k), int(n_rows <= k), int(missing_heavy == 0), int(bad_bounds == 0))],
        "k int, size_ok int, heavy_present int, bounds_ok int",
    )


def q_pipeline_corpus_assembly(spark, sf):
    """End-to-end training-corpus assembly — the flow a data pipeline
    runs nightly, as ONE declarative plan spanning four operator
    families: near-dup dedup (minhash LSH pairs → CC → canonical
    survivors) → token-count admission filter → embedding join →
    int8 quantization scale. One row per admitted canonical document
    with its language, token count, and per-vector quantization
    scale — the manifest a downstream trainer consumes."""
    from graph_etl_spark.operators.text import tokens_col

    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    pairs = ops.minhash_lsh_pairs(d, num_perm=16, bands=8)
    clusters = ops.dedup_clusters(pairs, d.select("doc_id"))
    survivors = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    docs = d.select(
        "doc_id", "lang", F.size(tokens_col(F.col("text"))).alias("n_tokens")
    )
    vec = (
        e.select(
            F.col("vec_id").alias("doc_id"),
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            ).alias("__amax"),
        )
        .select(
            "doc_id",
            F.round(
                F.when(F.col("__amax") > 0, F.lit(127.0) / F.col("__amax")).otherwise(
                    F.lit(1.0)
                ),
                6,
            ).alias("q_scale"),
        )
    )
    return (
        survivors.join(docs, "doc_id")
        .filter(F.col("n_tokens") >= 20)
        .join(vec, "doc_id")
    )


def q_sim_ivf_trained_topk(spark, sf):
    """Train-then-index composition: kmeans_fit centroids feed
    ivf_topk (nlist=8 from k=8, nprobe=2), judged by the same
    aggregate-recall verdict as sim_ivf_topk. Trained, balanced lists
    must clear the same >=0.6 bar the naive init does."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    k = 5
    cents = ops.kmeans_fit(e, k=8, max_iter=2)
    ivf = ops.ivf_topk(e, q, k=k, nprobe=2, centroids=cents).select(
        "query_id", "neighbor_id"
    )
    exact = ops.brute_force_topk(e, q, k=k).select("query_id", "neighbor_id")
    hits = ivf.join(exact, ["query_id", "neighbor_id"], "inner").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = 10 * k
    return hits.select(
        F.lit(10).alias("n_queries"),
        F.lit(k).alias("k"),
        (F.col("n_hits") >= F.lit(int(0.6 * total))).alias("recall_ok"),
    )


def q_sim_pq_codebooks(spark, sf):
    """Product-quantization codebooks (m=4 subspaces × 8 codes, 2
    fused Lloyd iterations): the trained (subspace, code, pos, value)
    components, hash-exact against a 4-chain unrolled DuckDB oracle
    under the kmeans determinism contract (round-6 distances, code
    tiebreak, round-6 components, empty-code carry-forward)."""
    e = _t(spark, sf, "embeddings")
    books = ops.pq_train(e, m=4, k_codes=8, max_iter=2)
    return books.select(
        "subspace", "code", F.posexplode("cvec").alias("pos", "value")
    )


def q_sim_pq_codes(spark, sf):
    """PQ encode: every vector compressed to its 4 per-subspace code
    ids — a zero-shuffle literal-codebook argmin projection. The codes
    list is hash-exact against the oracle's per-subspace argmin over
    the same unrolled codebooks (array fingerprinted to md5 + scalar
    probes, the signature-query convention)."""
    e = _t(spark, sf, "embeddings")
    # ONE pinned cast corpus shared by train + encode (guide §2.4):
    # the cast expression is identical, so codes are bit-identical
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("__pqv"),
    ).localCheckpoint(eager=False)
    books = ops.pq_train(e, m=4, k_codes=8, max_iter=2, _vecs=vecs)
    enc = ops.pq_encode(e, books, _vecs=vecs)
    return enc.select(
        "vec_id",
        F.md5(
            F.array_join(F.transform("codes", lambda x: x.cast("string")), ",")
        ).alias("codes_fp"),
        F.element_at("codes", 1).alias("code_0"),
        F.element_at("codes", 4).alias("code_3"),
    )


def q_sim_pq_refine_topk(spark, sf):
    """PQ shortlist-then-refine ANN (the production query path: O(m)
    ADC winnow to 100 candidates, exact L2 re-rank of only those),
    judged by a recall verdict vs the exact L2 top-k — measured
    0.84 (sf0.01) / 0.74 (sf0.1) recall@5, asserted >= 0.5."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    k = 5
    # ONE pinned cast corpus shared by the PQ trainer, the ADC encode,
    # the refine join, AND the exact reference below (guide §2.4): the
    # cast expression is identical everywhere, so every stage sees the
    # exact same doubles — previously each stage re-cast the raw scan.
    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("__pqv"),
    ).localCheckpoint(eager=False)
    books = ops.pq_train(e, m=4, k_codes=16, max_iter=2, _vecs=vecs)
    ref = ops.pq_refine_topk(
        e, q, books, k=k, shortlist=100, _vecs=vecs
    ).select("query_id", "neighbor_id")
    # exact squared-L2 top-k reference, same tiebreak contract
    d = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("__pqv").alias("__dv")
    )
    qq = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("__pqv").alias("__qv")
    )
    dist = F.round(
        F.aggregate(
            F.zip_with("__qv", "__dv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        d.crossJoin(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("l2_dist", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = ref.join(exact, ["query_id", "neighbor_id"], "inner").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = 10 * k
    return hits.select(
        F.lit(10).alias("n_queries"),
        F.lit(k).alias("k"),
        (F.col("n_hits") >= F.lit(int(0.5 * total))).alias("recall_ok"),
    )


def q_sim_ivfpq_topk(spark, sf):
    """IVF-PQ (FAISS-style index): coarse k-means routing (nlist=8,
    nprobe=4), residual PQ encoding (m=4, 16 codes), ADC over probed
    lists only, exact refine of the top-100 shortlist. One PQ
    training iteration (the second buys only ~2 recall points for
    +40% wall — measured 0.90 sf0.01 / 0.76 sf0.1 at pq_iter=1,
    asserted >= 0.5)."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    k = 5
    ref = ops.ivfpq_topk(
        e, q, k=k, nlist=8, nprobe=4, m=4, k_codes=16, shortlist=100,
        coarse_iter=2, pq_iter=1,
    ).select("query_id", "neighbor_id")
    d = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__dv"),
    )
    qq = q.select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__qv"),
    )
    dist = F.round(
        F.aggregate(
            F.zip_with("__qv", "__dv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        d.crossJoin(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("l2_dist", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = ref.join(exact, ["query_id", "neighbor_id"], "inner").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = 10 * k
    return hits.select(
        F.lit(10).alias("n_queries"),
        F.lit(k).alias("k"),
        (F.col("n_hits") >= F.lit(int(0.5 * total))).alias("recall_ok"),
    )


def q_sim_kmeans_assign(spark, sf):
    """Semantic-shard report: train (k=4, 2 iters), assign every vector
    to its nearest centroid, aggregate shard sizes and tightness per
    label — the cluster-balanced-sampling inventory."""
    e = _t(spark, sf, "embeddings")
    cents = ops.kmeans_fit(e, k=4, max_iter=2)
    asn = ops.kmeans_assign(e, cents)
    return (
        asn.join(e.select("vec_id", "label"), "vec_id")
        .groupBy("cent_id", "label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
        )
    )


def q_sim_quantize_int8(spark, sf):
    """Symmetric int8 quantization audit: per-vector scale, quantized
    fingerprint, mean reconstruction error — the 4× storage lever,
    oracle-checked bit-for-bit (HALF_UP rounding both engines)."""
    e = _t(spark, sf, "embeddings")
    qd = ops.quantize_embeddings(e)
    return qd.select(
        "vec_id",
        "scale",
        F.md5(
            F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",")
        ).alias("q_fp"),
        "mae",
    )


def q_sim_kmeans_centroids(spark, sf):
    """3 Lloyd's iterations, k=4, over the embedding corpus — the IVF
    centroid trainer. Deterministic by construction (round-6 distances,
    cent_id tiebreaks), so the unrolled DuckDB oracle matches
    bit-for-bit."""
    e = _t(spark, sf, "embeddings")
    return ops.kmeans_centroids(e, k=4, max_iter=3)


def q_stream_interval_join(spark, sf):
    """Stream-stream interval join's BATCH twin
    (streaming.streaming_interval_join): each purchase paired with the
    same user's clicks in the 30 minutes before it — the two-sided
    time-bound join whose streaming form carries watermarks on both
    sides so join state expires. Batch plan: one equi-join on user_id
    plus the interval predicate; no cartesian."""
    from graph_etl_spark.streaming import streaming_interval_join

    e = _t(spark, sf, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    right = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = streaming_interval_join(left, right, "user_id", within="30 minutes")
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.col("ts").cast("long").alias("purchase_ts"),
        F.col("ts_right").cast("long").alias("click_ts"),
    )


def q_stream_ingest_admission(spark, sf):
    """Incremental-ingest sink's BATCH twin
    (streaming.incremental_ingest_sink): TWO consecutive micro-batches
    vetted sequentially against a GROWING index — batch 2 is checked
    against the static index PLUS batch 1's admitted survivors, so a
    re-crawl of a batch-1-admitted doc (the +300000 copies) is caught
    as exact_index in batch 2. This is the accumulated-index semantics
    the foreachBatch sink applies per delivery, in oracle-checkable
    form. All semi-join shaped (incremental_dedup twice)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    idx = d.filter(did % 3 != 0)
    bat1 = d.filter(did % 6 == 0)
    recrawl = bat1.filter(did < 30).select(
        (did + 300000).alias("doc_id"), "text"
    )
    bat2 = d.filter(did % 6 == 3).unionByName(recrawl)
    # v1 feeds THREE consumers (the output union, kept1, and through
    # it batch 2's index) — materialize it once, exactly as the sink
    # materializes each batch's verdicts to parquet before the next
    v1 = ops.incremental_dedup(idx, bat1).localCheckpoint(eager=False)
    kept1 = v1.filter(F.col("verdict") == "kept").select("doc_id")
    admitted1 = bat1.join(kept1, "doc_id", "left_semi")
    v2 = ops.incremental_dedup(idx.unionByName(admitted1), bat2)
    return v1.select(
        F.lit(1).alias("batch_id"), "doc_id", "verdict"
    ).unionByName(v2.select(F.lit(2).alias("batch_id"), "doc_id", "verdict"))


def q_quality_kn_logprob(spark, sf):
    """Kneser-Ney smoothed bigram LM score (D=0.75): absolute
    discounting + continuation-probability backoff — the KenLM
    smoothing — with the doc's first token scored by P_cont alone and
    the 0.5/|bigram types| never-continues floor. Integer-count ratios
    in one mirrored expression order; 6-dp decimal logprob sums."""
    return ops.kneser_ney_logprob(_t(spark, sf, "documents"))


def q_events_concurrency(spark, sf):
    """Sweep-line concurrency timeline: 30-min gap sessions emit +1/-1
    boundaries; the exact two-phase global prefix sum (boundary
    literals -> bucket-local running sums + broadcast offsets) gives
    instantaneous open-session counts at every boundary — peak
    concurrency is the max. End-exclusive: -1 sorts before +1 at the
    same instant."""
    return ops.peak_concurrency(_t(spark, sf, "events"), gap_minutes=30)


def q_events_cusum_changepoint(spark, sf):
    """Integer-exact CUSUM changepoint per event type over hourly
    counts: S'_k = Σ(B·c_i − T) peaks where the rate level shifts;
    ties break to the earliest bucket. decimal(38,0) internal sums,
    type-keyed cumulative windows only."""
    return ops.cusum_changepoint(_t(spark, sf, "events"), bucket="hour")


def q_events_ab_ztest(spark, sf):
    """Two-proportion A/B z-test with deterministic H56(user) mod 2
    assignment and 'purchase' conversion: exact integer counts, one
    fixed-order pooled-variance expression rounded at the end."""
    return ops.ab_ztest(_t(spark, sf, "events"), conv_type="purchase")


def q_etl_table_checksum(spark, sf):
    """Order-free migration checksum of orders by priority: per-row
    H56 over a canonical '|'-join (doubles pre-cast to decimal(18,2),
    timestamps to date — the engine-identical stringifications),
    summed exactly as decimal(38,0) then mod 2^61−1. Row order,
    partitioning, and file layout cannot move it."""
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).cast("decimal(18,2)").alias("o_price"),
        F.col("o_orderdate").cast("date").alias("o_date"),
        "o_orderpriority",
    )
    return ops_fn.table_checksum(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_price", "o_date"],
        group_col="o_orderpriority",
    )


def q_etl_bloom_semi_join_scale(spark, sf):
    """bloom_semi_join's PRODUCTION probe (scale=True): identical
    build and 1024-bit filter as etl_bloom_semi_join, but the packed
    words travel as an executor broadcast variable and the probe runs
    inside an Arrow mapInPandas stage — no literal array in the plan,
    so n_bits can grow with the dim (10 bits/key) without serializing
    megabytes into every task. Bit-identical survivors by
    construction; this row certifies it against the SAME oracle as
    the literal twin."""
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").filter(F.col("s_nationkey") < 10)
    passed = ops.bloom_semi_join(
        li, supp, "l_suppkey", "s_suppkey", n_bits=1024, n_hashes=3,
        scale=True,
    )
    truth = (
        supp.select(F.col("s_suppkey").alias("l_suppkey"))
        .distinct()
        .withColumn("__true", F.lit(1))
    )
    marked = passed.join(F.broadcast(truth), "l_suppkey", "left")
    total = li.agg(F.count(F.lit(1)).alias("n_fact"))
    agg = marked.agg(
        F.count(F.lit(1)).alias("n_passed"),
        F.sum(F.coalesce(F.col("__true"), F.lit(0))).alias("n_true_match"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "n_fact",
        "n_passed",
        "n_true_match",
        (F.col("n_passed") - F.col("n_true_match")).alias(
            "n_false_positive"
        ),
    )


def q_graph_modularity(spark, sf):
    """Newman modularity of the brand partition over the 1995
    co-purchase graph — brand assortativity: q_c = e_c/m − (d_c/2m)²
    per brand from exact integer edge/degree masses, one fixed-order
    double expression at the end. No iteration: attribute communities
    need no recursive SQL."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    comm = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    return ops.modularity(edges, comm)


def q_graph_louvain_move(spark, sf):
    """One synchronized Louvain local-move round over the 1995
    co-purchase graph seeded with the brand partition: integer-exact
    removal-adjusted gains S(c) = 2m·k_ic − k_i·Σtot'(c), node-keyed
    argmax with stay-then-smaller-label ties."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    comm = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    return ops.louvain_move(edges, comm)


def q_graph_louvain_communities(spark, sf):
    """FULL Louvain phase-1 loop (VERDICT r11 #5): three synchronized
    move rounds over the 1995 co-purchase graph seeded with the brand
    partition, early-stopping on the integer-exact zero-moves fixed
    point — result-identical to the oracle's unrolled 3 rounds (a
    converged round reproduces itself bit-for-bit). Output: final
    (id, community) for every part."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    comm = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    return ops.louvain_communities(edges, comm, max_rounds=3)


def _copurchase_1995(spark, sf):
    """The 1995 co-purchase graph (src < dst canonical) — the shared
    fixture of the louvain/modularity/assortativity family."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


def q_graph_louvain_coarsen(spark, sf):
    """Louvain PHASE 2 contraction (VERDICT r12 #4): the 1995
    co-purchase graph contracted under the brand partition — every
    community a super-node, parallel edges summed into exact integer
    weights, self-loops kept as the inner-edge mass. Output: the
    weighted community multigraph (c_src, c_dst, weight), canonical
    c_src <= c_dst."""
    edges = _copurchase_1995(spark, sf)
    comm = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    return ops.louvain_coarsen(edges, comm)


def q_graph_louvain_two_level(spark, sf):
    """FULL two-level Louvain (VERDICT r12 #4) — move -> contract ->
    move: 2 semi-synchronous phase-1 rounds on the 1995 co-purchase
    graph under the brand seed, phase-2 contraction to the weighted
    brand graph, then 2 weighted phase-1 rounds on the contraction
    from singleton seeds, coarse labels projected back to every part.
    All integer-exact (decimal scores, long weights, engine-mirrorable
    parity gates) so the oracle unrolls the identical sequence."""
    edges = _copurchase_1995(spark, sf)
    comm = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    return ops.louvain_two_level(edges, comm, rounds1=2, rounds2=2)


def q_graph_louvain_multilevel(spark, sf):
    """N-LEVEL Louvain recursion (VERDICT r13 #6) — move → contract
    repeated to THREE levels (2 semi-synchronous rounds each): brand
    seed on the 1995 co-purchase graph, then two successive weighted
    contractions each re-refined from singleton seeds, labels
    projected back down the stack. Early-stop on a zero-move level is
    result-identical to the oracle's fixed 3-level unroll (singleton
    seeds make a stalled level the identity — see
    ``operators/graph.py::louvain_multilevel``)."""
    edges = _copurchase_1995(spark, sf)
    comm = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("community")
    )
    return ops.louvain_multilevel(
        edges, comm, rounds_per_level=2, max_levels=3
    )


def q_sim_mmr_rerank(spark, sf):
    """Maximal-marginal-relevance diversified top-5 from a top-20
    candidate pool (λ=0.7): greedy per-step argmax of
    λ·rel − (1−λ)·max-sim-to-selected, all queries advancing in
    parallel per step — the oracle unrolls the same 5 steps."""
    e = _t(spark, sf, "embeddings")
    return ops.mmr_rerank(
        e, e.filter(F.col("vec_id") < 10), k=5, pool=20, lam=0.7
    )


def q_sim_hamming_topk(spark, sf):
    """Binary-embedding search: sign bits packed 32/long (exact
    power-of-two sums, engine-identical), ranked by integer Hamming
    distance popcount(xor) — no rounding bets anywhere."""
    e = _t(spark, sf, "embeddings")
    return ops.hamming_topk(e, e.filter(F.col("vec_id") < 10), dim=64, k=5)


def q_sim_binary_rerank(spark, sf):
    """Binary-quantization serving cascade: sign-bit Hamming prefilter
    keeps 20 candidates/query (integer distances, id ties), exact
    float cosine re-ranks the shortlist to top-5. The full-precision
    corpus column never shuffles — the shortlist broadcasts to it.
    Oracle replays the identical two-stage ranking in SQL."""
    e = _t(spark, sf, "embeddings")
    return ops.binary_rerank_topk(
        e, e.filter(F.col("vec_id") < 10), dim=64, k=5, prefilter_factor=4
    )


def q_events_ab_cuped(spark, sf):
    """CUPED variance reduction: pre-period covariate (value sum
    before Jan 15) with pooled theta = cov/var from exact decimal
    moments; adjusted per-variant means in one mirrored double
    expression."""
    return ops.ab_cuped(
        _t(spark, sf, "events"), cutoff_ts="2024-01-15 00:00:00"
    )


def q_sim_hybrid_rrf(spark, sf):
    """Reciprocal-rank fusion of two retrieval orders (cosine top-20
    and raw-dot MIPS top-20 — genuinely different orders for
    unnormalized vectors): contributions 1/(60+rank) as exact 12-dp
    decimals, fused top-5 per query."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    cos = ops.brute_force_topk(e, q, k=20).select(
        "query_id", "neighbor_id", "rank"
    )
    dot = ops.mips_topk(e, q, k=20).select("query_id", "neighbor_id", "rank")
    return ops.rrf_fuse([cos, dot], k=5)


def q_text_langid_confusion(spark, sf):
    """Language-ID eval: confusion matrix of the stopword heuristic's
    prediction vs the labeled lang — counts per (label, predicted)
    cell with a correctness flag."""
    return ops.langid_confusion(_t(spark, sf, "documents"))


def q_text_fertility(spark, sf):
    """Tokenizer fertility per language: BPE-ish word pieces per
    whitespace word — the multilingual-tokenizer tax table; exact
    integer sums, one final division."""
    return ops.tokenizer_fertility(_t(spark, sf, "documents"))


def q_quality_domain_shift(spark, sf):
    """Jensen-Shannon divergence between the English slice and the
    rest of the corpus over 128 hashed token buckets — the
    domain-shift scalar; add-half smoothed, 12-dp-decimal bucket
    contributions summed exactly."""
    d = _t(spark, sf, "documents")
    return ops.domain_shift(
        d.filter(F.col("lang") == "en"),
        d.filter(F.col("lang") != "en"),
        n_buckets=128,
    )


def q_events_markov_steady_state(spark, sf):
    """Stationary distribution of the event-type chain: 30 fixed-point
    power-iteration steps in exact integer micro-units (the oracle
    unrolls the identical arithmetic) — the long-run state-occupancy
    vector behind the transition matrix."""
    return ops.markov_steady_state(_t(spark, sf, "events"), iters=30)


def q_events_top_paths(spark, sf):
    """Top-20 most common 3-step event paths: user-keyed lead window,
    map-side path counts, TakeOrderedAndProject top-k (count desc,
    path asc — fully deterministic)."""
    return ops.top_paths(_t(spark, sf, "events"), depth=3, k=20)


def q_etl_freshness(spark, sf):
    """Per-event-type freshness audit: row count, first/last event
    time, staleness seconds vs the table max — the landed-table
    dashboard, one map-side-combined agg."""
    return ops_fn.freshness_report(
        _t(spark, sf, "events"), "event_type", "ts"
    )


def q_quality_dsir_weights(spark, sf):
    """DSIR importance weights: English docs as the target domain,
    the full corpus as source; 128 hashed token buckets, add-half
    smoothed log ratios as one fixed-order double expression of exact
    counts, per-doc decimal sums. High log_weight = target-like."""
    d = _t(spark, sf, "documents")
    return ops.dsir_weights(d, d.filter(F.col("lang") == "en"), n_buckets=128)


def q_sim_matryoshka_recall(spark, sf):
    """Matryoshka prefix eval: exact cosine top-5 with 16-dim prefixes
    vs full 64-dim truth, per-query recall — the truncated-index
    shippability number."""
    e = _t(spark, sf, "embeddings")
    return ops.matryoshka_recall(
        e, e.filter(F.col("vec_id") < 10), prefix_dim=16, k=5
    )


def q_events_survival_km(spark, sf):
    """Kaplan-Meier survival per signup-week cohort: censoring-aware
    churn curves (silent > 2h before corpus max = churned — the
    horizon that yields real deaths at test SF; production would pass
    days); exact integer risk sets, 9-dp-decimal ln-factor cumsums
    exponentiated once, cohort-keyed windows only."""
    return ops.survival_km(_t(spark, sf, "events"), churn_after_s=7200)


def q_approx_cms_counts(spark, sf):
    """Count-Min sketch (depth 4 x width 64) point estimates over user
    ids, emitted NEXT TO exact truth so the collision overestimate is
    auditably visible; H56 hashing is engine-identical so even the
    collisions match."""
    return ops.cms_counts(_t(spark, sf, "events"), "user_id", depth=4, width=64)


def q_approx_hll_distinct(spark, sf):
    """HyperLogLog distinct-count audit (64 registers) — the sketch
    estimate of distinct users per event type NEXT TO the exact count:
    register/rho from the shared H56 hash (trailing-zero CASE ladder,
    no float log), the harmonic denominator carried as an exact
    integer rational so aggregation order cannot move the hash, one
    float expression at the end."""
    return ops.hll_distinct(
        _t(spark, sf, "events"), "event_type", "user_id", p=6
    )


def q_quality_mad_outliers(spark, sf):
    """Robust MAD outlier gate: plant a +5000 spike on every 997th
    event id, then flag by modified z-score 0.6745·(x−med)/MAD > 3.5
    — exact lower-interpolation medians over 4-dp decimals, one
    double expression at the end; a zero MAD flags any defector from
    the median (degenerate case, NULL z)."""
    e = _t(spark, sf, "events").withColumn(
        "value",
        F.when(
            F.col("event_id") % 997 == 0, F.col("value") + F.lit(5000.0)
        ).otherwise(F.col("value")),
    )
    return ops.mad_outliers(e, "event_type", "value", "event_id")


def q_etl_bloom_semi_join(spark, sf):
    """Bloom pre-join report: a 1024-bit filter built from the
    restricted supplier dim (nations < 10) embedded as literal words,
    probed map-side by every lineitem row — counts of passed / true /
    false-positive rows; the deterministic H56 positions make even
    the false positives engine-identical."""
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").filter(F.col("s_nationkey") < 10)
    passed = ops.bloom_semi_join(
        li, supp, "l_suppkey", "s_suppkey", n_bits=1024, n_hashes=3
    )
    truth = (
        supp.select(F.col("s_suppkey").alias("l_suppkey"))
        .distinct()
        .withColumn("__true", F.lit(1))
    )
    marked = passed.join(F.broadcast(truth), "l_suppkey", "left")
    total = li.agg(F.count(F.lit(1)).alias("n_fact"))
    agg = marked.agg(
        F.count(F.lit(1)).alias("n_passed"),
        F.sum(F.coalesce(F.col("__true"), F.lit(0))).alias("n_true_match"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "n_fact",
        "n_passed",
        "n_true_match",
        (F.col("n_passed") - F.col("n_true_match")).alias(
            "n_false_positive"
        ),
    )


def q_mm_resize_real(spark, sf):
    """REAL image resize end-to-end (the stub retired for PNGs): real
    decode -> integer nearest-neighbor resample (sy = y*h//H) ->
    exact pixel and position-weighted sums. The oracle replays the
    same index arithmetic over the closed-form pixel formula without
    touching a PNG byte."""
    d = _t(spark, sf, "documents").select("doc_id")
    pngs = ops.synth_png_column(d, "doc_id")
    return ops.resize_image(pngs, target_width=4, target_height=4)


def q_mm_image_ahash_dedup(spark, sf):
    """PERCEPTUAL image dedup end-to-end: every 4 consecutive doc ids
    share one synthesized base PNG with per-id brightness shifts —
    byte-different payloads (md5 dedup finds nothing) that aHash
    groups exactly, by its integer brightness invariance. Real
    decode → grayscale → 8×8 nearest sample → floor-mean threshold →
    two packed hash words; grouped to (hash, n_images, canonical).
    The oracle replays the pixel formula and the full hash arithmetic
    in SQL without touching a PNG byte."""
    d = _t(spark, sf, "documents").select("doc_id")
    pngs = ops.synth_png_variant_column(d, group_size=4)
    return (
        ops.image_ahash(pngs)
        .groupBy("ahash_w0", "ahash_w1")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


def q_dedup_cdc_chunks(spark, sf):
    """Content-defined chunking dedup report: boundaries where the
    4-token rolling H56 hits a 2^4 mask (expected 16-token chunks —
    boundaries are pure local content, so prefix edits shift
    positions, not chunk identity), chunk hashes rolled up per doc
    with the corpus-shared count — the shift-resistant dedup unit
    fixed windows can't give."""
    return ops.cdc_dedup_report(
        _t(spark, sf, "documents"), window=4, mask_bits=4
    )


def q_dedup_cdc_guarded(spark, sf):
    """GUARDED CDC chunking (VERDICT r12 #6): the production twin —
    candidate boundaries from the same 4-token rolling H56/2^4 rule,
    but honored only at chunk length >= 4 and force-split at 24, so
    the geometric tail of 1-token chunks is gone and no chunk exceeds
    the cap. Chunk assignment walks the sparse candidate list per doc
    inside a doc-grouped Arrow stage; flags and chunk hashes stay
    JVM-side. Output: (doc_id, chunk_idx, n_tokens, chunk_hash). The
    oracle replays the identical (start, candidates, n) transition
    with a recursive CTE."""
    return ops.cdc_chunk_hashes(
        _t(spark, sf, "documents"),
        window=4,
        mask_bits=4,
        min_tokens=4,
        max_tokens=24,
    )


def q_quality_gopher_rules(spark, sf):
    """The Gopher quality-filter battery (Rae et al. 2021, App. A):
    per-rule boolean flags over exact integer counts/ratios — word
    count, mean word length, symbol-to-word ratio, bullet/ellipsis
    line ratios, alpha-word fraction, required-stopword presence —
    plus the AND verdict; min_words=30 so the fixture splits on the
    word-count rule."""
    return ops.gopher_rules(_t(spark, sf, "documents"), min_words=30)


def q_approx_hll_union(spark, sf):
    """HLL sketch MERGE (Mergeable Summaries): per-event-type user
    sketches merged by per-register MAX into the union estimate,
    audited against the exact union distinct and the per-group exact
    sum (>= union; the gap is the cross-type overlap the merge
    deduplicates). Same engine-mirrorable estimator as
    approx_hll_distinct."""
    return ops.hll_union(_t(spark, sf, "events"), "event_type", "user_id", p=6)


def q_graph_ktruss(spark, sf):
    """4-truss of the 1995 co-purchase graph: iterative edge peeling
    on triangle support (every surviving edge closes >= 2 triangles
    inside the subgraph) to the fixpoint — 3 peel rounds at the test
    scales; the oracle unrolls 6 (extra rounds past the fixpoint are
    no-ops, the kcore convention). Output: surviving canonical edges
    with their in-truss support."""
    return ops.ktruss(_copurchase_1995(spark, sf), k=4)


def q_text_char_entropy(spark, sf):
    """Per-document character entropy (bits/char): exact character
    counts, per-character cnt*log2(cnt) terms rounded to 6 dp and
    summed as exact decimals (order-free), one final float expression.
    The cheapest gibberish / filler-run signal."""
    return ops.char_entropy(_t(spark, sf, "documents"))


def q_dedup_overlap_pairs(spark, sf):
    """Shard-seam dedup: docs whose LAST 8 tokens equal another doc's
    FIRST 8 tokens — the re-chunked-crawl / split-document signature
    MinHash and aligned-window passage dedup both miss. The corpus is
    documents plus a deterministic continuation per doc (its 8-token
    suffix prepended to its own text under doc_id + 1000000), so every
    original pairs with its continuation; the join key is H56 of the
    boundary 8-gram with a verbatim string recheck."""
    from graph_etl_spark.operators.text import tokens_col

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = tokens_col(F.col("text"))
    synth = d.filter(F.size(toks) >= 8).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(toks, -8, 8), " "), F.lit(" "), F.col("text")
        ).alias("text"),
    )
    return ops.prefix_suffix_overlap(d.unionByName(synth), k=8)


def q_quality_k_anonymity(spark, sf):
    """k-anonymity census over customer quasi-identifiers
    (nation x market segment): combinations with fewer than 10 rows
    are re-identifiable cells the curation layer must suppress or
    generalize. One groupBy; NULLs are their own cell."""
    return ops.k_anonymity(
        _t(spark, sf, "customer"), ["c_nationkey", "c_mktsegment"], k=10
    )


def q_quality_cohen_kappa(spark, sf):
    """Cohen's kappa between the declared document language and the
    stopword-heuristic prediction (lang_id) — the label-QA number
    that nets out chance agreement: exact class counts, pe as an
    exact integer numerator over n², one mirrored float close."""
    pred = ops.lang_id(_t(spark, sf, "documents"))
    return ops.cohen_kappa(pred, "lang", "lang_pred")


def q_quality_token_budget(spark, sf):
    """Token-budget corpus assembly: within each source, docs taken
    in deterministic H56 priority order until the running token total
    crosses 1000 — the admit-while-under-budget verdict with the
    audit columns (cum_before). The realized per-source corpus lands
    in [budget, budget + max_doc_tokens) unless the source runs dry."""
    return ops.token_budget_fill(
        _t(spark, sf, "documents"), budget_tokens=1000
    )


def q_events_ab_srm(spark, sf):
    """Sample-ratio-mismatch guardrail for the A/B family: the SAME
    deterministic H56(user) mod 2 assignment ab_ztest/ab_cuped use,
    scored against the expected 50/50 with the chi-square-1 statistic
    and the literal 3.841 critical value. The fixture's 150 users
    split 61/89 — a genuine SRM flag."""
    return ops.ab_srm_check(_t(spark, sf, "events"))


def q_graph_closeness(spark, sf):
    """Sampled harmonic closeness over the customer->nation->region
    graph for the 8 seed customers (the betweenness fixture):
    synchronized multi-source BFS, per-level reach counts times
    6-dp-exact reciprocal literals — order-free decimal sums, one
    double cast at the end."""
    seeds = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") < 9)
        .select(F.concat(F.lit("c"), F.col("c_custkey")).alias("id"))
    )
    return ops.closeness_sample(_nation_graph(spark, sf), seeds, max_hops=4)


def q_text_vocab_overlap(spark, sf):
    """Pairwise TRIGRAM-vocabulary Jaccard between declared-language
    slices — the data-mixing redundancy diagnostic (unigram vocab
    saturates on the shared fixture vocabulary; trigrams
    discriminate: en-de 0.107, de-fr 0.065 at sf0.01). Exact set
    sizes, one term-keyed self-join."""
    return ops.vocab_overlap(_t(spark, sf, "documents"), "lang", ngram=3)


def q_events_bot_users(spark, sf):
    """Bot-traffic detection on inter-event timing: burstiness' exact
    microsecond gap moments with the metronome verdict is_bot =
    (n_gaps >= 5 AND B <= -0.9) — human streams are bursty, schedulers
    pin B at -1. The fixture's organic users all pass (0 flags) with
    the full timing columns hash-checked."""
    return ops.bot_users(_t(spark, sf, "events"))


def q_sim_ivf_recall_curve(spark, sf):
    """ANN tuning curve: IVF recall@5 vs the exact top-k across
    nprobe 1/2/4 on one trained index — measured 0.78/0.80/0.90 at
    sf0.01, judged against floors 0.5/0.6/0.7 plus the monotone-in-
    nprobe invariant (the ivf_topk verdict contract: deterministic
    centroids make the booleans reproducible; the oracle checks
    verdicts, not a k-means replay)."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ops.ivf_recall_curve(
        e, q, k=5, nlist=8, nprobes=[1, 2, 4], floors=[0.5, 0.6, 0.7]
    )


def q_dedup_dup_rate_by_source(spark, sf):
    """Per-source duplicate-rate curation table: near-dup clusters
    (MinHash LSH -> CC -> min-id canonical) with every non-canonical
    member charged to its source — the re-crawl de-prioritization
    number. The oracle replays the exact recursive component
    closure."""
    return ops.dup_rate_by_source(_t(spark, sf, "documents"))


def q_dedup_minhash_audit(spark, sf):
    """Sketch-quality audit: for every banded-LSH candidate pair, the
    MinHash Jaccard estimate (agreeing-position fraction over 16
    perms) beside the exact shingle Jaccard and the absolute error —
    the num_perm justification number."""
    return ops.minhash_jaccard_audit(
        _t(spark, sf, "documents"), num_perm=16, bands=8
    )


def q_dedup_ngram_novelty(spark, sf):
    """Per-document corpus novelty: fraction of a doc's distinct
    3-gram shingles appearing in no other document — the
    inverse-boilerplate quality signal; integer ratio, one
    shingle-keyed df join."""
    return ops.ngram_novelty(_t(spark, sf, "documents"), n=3)


def q_dedup_line_dedup(spark, sf):
    """C4/RefinedWeb cross-corpus LINE dedup (round 14): 8-token
    windows stand in for lines; a line occurring in >= 2 DISTINCT
    documents is boilerplate and is removed from EVERY document — the
    corpus-frequency policy, vs passage_dedup's first-occurrence-wins.
    One distinct-pairs aggregation keyed by line hash + one equi-join
    back + one reassembly group-by; no windows, no Python."""
    return ops.line_dedup(
        _t(spark, sf, "documents"), line_tokens=8, min_docs=2
    )


def q_text_readability(spark, sf):
    """Flesch reading-ease + Flesch-Kincaid grade per document
    (round 14): vowel-group syllable heuristic, [.!?]-run sentence
    count floored at 1 — the readability band filter a curation
    pipeline runs beside the Gopher battery. Pure per-row JVM regex +
    higher-order aggregate; zero shuffle."""
    d = _t(spark, sf, "documents")
    return ops.readability_scores(d.select("doc_id", "text")).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch", "fk_grade"
    )


def q_etl_compaction_plan(spark, sf):
    """Small-file compaction planner (round 14): per-source payload
    estimate (strings by byte length, scalars 8B), target file count
    at a 4 KiB demo target, and the split/tiny/ok advisory — the
    nightly table-maintenance sweep. One scan, one map-side-combined
    aggregation; partition-count rows out."""
    return ops.compaction_plan(
        _t(spark, sf, "documents"), ["source"], target_bytes=4096
    )


def q_quality_ppl_buckets(spark, sf):
    """CCNet head/middle/tail bucketing (round 14, Wenzek et al.
    §4.3): the shared held-out trigram LM scores every document, then
    ntile(3) WITHIN EACH LANGUAGE labels equal-count perplexity bands
    — per-language because raw ppl is not comparable across
    languages. Complements quality_ppl_gate (global TRIM): this
    labels everything, drops nothing."""
    d = _t(spark, sf, "documents")
    train = ops.hash_sample(d, permille=500, salt="lm")
    return ops.ppl_buckets(d, n_buckets=3, train_df=train)


def q_mm_image_phash_dedup(spark, sf):
    """DCT perceptual-hash image dedup (round 14): the frequency-
    domain sibling of mm_image_ahash_dedup — real PNG decode → 32×32
    nearest grid → 2-D DCT-II as two int64 matmuls against the
    fixed-point (2^14) cosine basis → 8×8 low-frequency block minus
    DC → lower-median threshold → one packed 63-bit hash. Integer
    end-to-end: the oracle replays the identical arithmetic from the
    synthetic pixel formula, and brightness variants group EXACTLY
    (AC basis rows sum to 0 even after rounding)."""
    d = _t(spark, sf, "documents").select("doc_id")
    pngs = ops.synth_png_variant_column(d, group_size=4)
    return (
        ops.image_phash(pngs)
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


def q_mm_video_scene_cuts(spark, sf):
    """Scene-cut detection over REAL Y4M decode (round 14): per doc a
    multi-scene C420 clip is synthesized (luma switches pattern every
    1 + id%3 frames — within-scene pairs bit-identical, cross-scene
    pairs differ everywhere), decoded for real, and each consecutive
    frame pair scored by the exact integer sum of absolute luma
    diffs; a cut fires when mean |diff| > 8. The shot-segmentation
    stage a video pipeline runs before per-scene frame sampling. The
    oracle replays every diff from the luma formula alone."""
    d = _t(spark, sf, "documents").select("doc_id")
    clips = ops.synth_y4m_scenes_column(d, "doc_id")
    return ops.video_scene_cuts(clips, threshold=8.0)


def q_events_ab_did(spark, sf):
    """Difference-in-differences (round 14): hash-assigned variants ×
    data-derived pre/post split (integer-microsecond midpoint), cell
    means of purchase values via order-free decimal sums, and the DiD
    estimate that nets out baseline group differences and the secular
    trend. One bounds scalar broadcast-crossed + ONE conditional agg —
    no user-keyed shuffle (DiD is event-level)."""
    return ops.ab_diff_in_diff(_t(spark, sf, "events"))


def q_dedup_soft_weights(spark, sf):
    """SoftDeDup-style duplicate REWEIGHTING (round 14): keep every
    document, weight = 1/|near-dup cluster| (banded MinHash-LSH pairs
    -> CC -> cluster sizes), so a cluster contributes one document's
    gradient mass regardless of copy count — the keep-everything
    alternative to cluster-then-drop."""
    return ops.soft_dedup_weights(
        _t(spark, sf, "documents"), num_perm=16, bands=8
    )


def q_dedup_lsh_recall_curve(spark, sf):
    """LSH tuning curve (round 14): per band count, the fraction of
    exact capped-Jaccard >= 0.12 pairs the banded candidates recover,
    beside the candidate volume — the dedup-family mirror of
    sim_ivf_recall_curve (the number that justifies a (num_perm,
    bands) choice). Monotone: more bands -> looser buckets -> more
    candidates and recall."""
    return ops.minhash_recall_curve(
        _t(spark, sf, "documents"), num_perm=16,
        band_options=(2, 4, 8), threshold=0.12,
    )


def q_events_power_analysis(spark, sf):
    """A/B pre-experiment power analysis (round 14): baseline
    conversion = users with >= 15 purchase events; for each relative
    MDE in {1,2,5,10}%, the required per-arm n under the two-
    proportion normal approximation (z literals: α=5% two-sided, 80%
    power) and the days of observed user inflow that demand costs.
    One user-keyed agg + two scalars + a 4-row literal fan-out."""
    return ops.ab_power_analysis(
        _t(spark, sf, "events"), conv_type="purchase", min_events=15
    )


def q_dedup_semdedup(spark, sf):
    """SemDeDup end-to-end (round 15, VERDICT r14 #8): the semantic
    near-dup pairs (spherical k-means cells -> within-cell exact
    cosine, the sim_semantic_dedup_pairs protocol with the same 50
    planted 2x-scaled duplicates) connected into duplicate groups,
    keeping exactly ONE representative (min id) per group — the
    embedding-clustering curation stage. One row per corpus vector:
    (vec_id, cluster_id, cluster_size, keep); every planted copy
    clusters with its source and drops."""
    e = _t(spark, sf, "embeddings")
    dups = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    corpus = e.unionByName(dups)
    return ops.semantic_dedup_survivors(
        corpus, k=8, max_iter=2, threshold=0.95, max_cell_size=150
    )


def q_mm_audio_fingerprint_dedup(spark, sf):
    """Energy-delta audio fingerprint dedup (round 15): real WAV
    decode -> per-window exact integer energy -> sign of successive
    deltas packed into one long (the Shazam-family core), grouped on
    (n_windows, fingerprint). The polarity fixture plants a phase-
    inverted duplicate of every base clip — energy is sign-blind, so
    each pair PROVABLY shares a fingerprint; the oracle replays the
    formula without touching a RIFF byte."""
    d = _t(spark, sf, "documents").select("doc_id")
    wavs = ops.synth_wav_polarity_column(d, group_size=2)
    return (
        ops.audio_fingerprint(wavs, window_samples=8)
        .groupBy("n_windows", "fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


def q_dedup_cluster_split(spark, sf):
    """Leakage-free dataset split (round 15): near-dup clusters (LSH
    pairs -> CC, the soft_weights graph) hash to train/val/test as a
    UNIT — H56(salt||cluster_id) mod 1000 over the dataset_split
    permille ranges — so a test doc can never have a near-copy in
    train. Singletons reduce to dataset_split's per-doc formula."""
    return ops.cluster_split(
        _t(spark, sf, "documents"), num_perm=16, bands=8
    )


def q_quality_domain_reweight(spark, sf):
    """DoReMi-style domain reweighting (round 15): per source domain,
    mean trigram NLL under the shared held-out LM, excess over the
    corpus mean, and a softmax-tempered mixture weight
    share*exp(excess/T) normalized over domains — harder domains
    upweight, boilerplate drifts down. Exact decimal sums everywhere;
    the single exp() per domain is the repo's last-ulp bet."""
    d = _t(spark, sf, "documents")
    train = ops.hash_sample(d, permille=500, salt="lm")
    return ops.domain_reweight(d, temperature=1.0, train_df=train)


def q_mm_image_phash_pairs(spark, sf):
    """Near-duplicate image pairs (round 15): pHash Hamming <= 6 via
    the exact pigeonhole equi-join (7 disjoint 9-bit segments of the
    63-bit DCT fingerprint; candidates only where a segment matches,
    recall 1.0 by construction). On the synthetic variant corpus the
    4 brightness variants of each base share one fingerprint, so the
    pairs are the within-group hamming-0 triangles — the oracle goes
    all-pairs at its scale, the operator never does."""
    d = _t(spark, sf, "documents").select("doc_id")
    pngs = ops.synth_png_variant_column(d, group_size=4)
    return ops.image_phash_pairs(pngs, max_hamming=6)


def q_sim_eval_contamination(spark, sf):
    """Embedding-level eval-set contamination audit (round 15): for
    every eval vector (vec_id < 20), the max cosine against a train
    corpus that PLANTS ten 0.5x-scaled copies of the first ten eval
    vectors (halving is FP-exact, so the planted max is cosine 1.0
    by construction) — those ten must flag at threshold 0.999, the
    other ten report their true nearest-train similarity. One corpus
    scan + a map-side-combinable per-eval max; no window, no top-k
    state — the semantic complement to quality_decontaminate."""
    e = _t(spark, sf, "embeddings")
    ev = e.filter(F.col("vec_id") < 20)
    planted = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(0.5)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    train = e.filter(F.col("vec_id") >= 20).unionByName(planted)
    return ops.embedding_contamination(train, ev, threshold=0.999)


def q_mm_image_phash_pairs_wide(spark, sf):
    """Near-duplicate image pairs over the WIDE 255-bit pHash
    (round 16, VERDICT r15 #1): block=16 DCT fingerprint packed as 7
    longs (phash_wide_layout: 37/37/37/36/36/36/36 bits), pigeonhole
    = one array element per segment, exact Hamming <= 6 as the sum of
    per-long bit_count(xor). Same brightness-variant fixture as the
    63-bit query — the 4 variants of each base share every long (AC
    rows of the k=16 cosine table sum to exactly 0), so the pairs are
    the within-group hamming-0 triangles; per-segment buckets are
    2^36-deep instead of 2^9-deep (PHASH_PROBE.json measures the
    candidate-volume drop). The oracle replays the 16x16 integer DCT
    and the identical layout from the pixel formula."""
    d = _t(spark, sf, "documents").select("doc_id")
    pngs = ops.synth_png_variant_column(d, group_size=4)
    return ops.image_phash_pairs_wide(pngs, max_hamming=6)


def q_dedup_minhash_contamination(spark, sf):
    """Lexical near-dup eval contamination (round 16, post-freeze —
    r17 window lead): eval = docs < 20, train = docs >= 20 plus EXACT
    planted copies of the first ten eval docs (signatures identical,
    so every band collides and Jaccard is exactly 1.0) — those ten
    must flag at threshold 0.8; evals with no LSH candidate keep
    their row with NULL max and contaminated=false. Asymmetric banded
    equi-join, candidate-bounded exact-Jaccard verify, shared
    packed-decimal JVM argmax; the oracle replays signatures, bands
    and the intersection ratio with the proven minhash CTE chain."""
    d = _t(spark, sf, "documents")
    ev = d.filter(F.col("doc_id") < 20).select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 400000).alias("doc_id"), "text"
    )
    train = (
        d.filter(F.col("doc_id") >= 20)
        .select("doc_id", "text")
        .unionByName(planted)
    )
    return ops.minhash_contamination(train, ev, threshold=0.8)


def q_mm_video_keyframe_dedup(spark, sf):
    """Video-level near-dup dedup (round 16, post-freeze — r17 window
    lead): real Y4M decode -> scene cuts (mean |luma diff| > 8) ->
    one keyframe per scene -> per-keyframe 63-bit DCT pHash ->
    ordered signature string, grouped on (n_scenes, keyframe_sig).
    The variant fixture plants a brightness-shifted duplicate of
    every base video (pattern held to %250, so diffs and every AC
    coefficient are provably shift-invariant) — each pair MUST share
    a signature; the oracle replays cuts, keyframes and the integer
    DCT from the luma formula without touching a Y4M byte."""
    d = _t(spark, sf, "documents").select("doc_id")
    clips = ops.synth_y4m_variant_column(d, group_size=2)
    return (
        ops.video_keyframe_signature(clips)
        .groupBy("n_scenes", "keyframe_sig")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


def q_mm_audio_fingerprint_pairs(spark, sf):
    """Fuzzy near-dup audio pairs (round 17, VERDICT r16 #2a): the
    63-bit energy-delta fingerprint run through the exact pigeonhole
    Hamming equi-join, BLOCKED on equal n_windows — the image_phash
    segment machinery applied to audio. The neardup fixture plants,
    per 3-id group, a polarity-inverted twin (provably Hamming 0) and
    a zeroed-last-window variant (provably Hamming <= 1: only the
    final delta sign can move); clips carry 32-64 windows so
    unrelated fingerprints essentially never collide at distance 1.
    The oracle replays samples, window energies, delta signs and the
    all-pairs Hamming filter from the closed form — recall of the
    pigeonhole join is 1.0 by construction, so the outputs match
    exactly."""
    d = _t(spark, sf, "documents").select("doc_id")
    wavs = ops.synth_wav_neardup_column(d, group_size=3)
    return ops.audio_fingerprint_pairs(wavs, max_hamming=1, window_samples=8)


def q_mm_video_keyframe_pairs(spark, sf):
    """Fuzzy near-dup video pairs (round 17, VERDICT r16 #2b):
    candidates = videos sharing an EXACT keyframe pHash at the same
    scene index (equi-join over exploded per-scene hashes, never a
    cartesian), verified by per-keyframe Hamming <= 6 across ALL
    aligned scenes. The tail-variant fixture plants, per 3-id group, a
    brightness-shifted twin (accept path: every keyframe provably
    identical, max Hamming 0) and a divergent-last-scene variant
    (candidate via the shared earlier scenes; kept only if the last
    keyframes land within 6 bits — the verify filter's reject path).
    The oracle replays cuts, keyframes, the integer DCT and the
    all-pairs (>=1-exact-scene AND max-Hamming) rule from the luma
    formula."""
    d = _t(spark, sf, "documents").select("doc_id")
    clips = ops.synth_y4m_tail_variant_column(d, group_size=3)
    return ops.video_keyframe_pairs(clips, max_hamming=6)


def q_quality_token_cost_audit(spark, sf):
    """Tokenizer-aware sequence-cost audit (round 17, VERDICT r16
    #7): learn 3 BPE merge rounds on the corpus, encode every
    document under the learned rules, then account each document's
    cost at a 128-token context window — sequences when split,
    tokens lost under truncate-to-one, padding wasted under
    doc-isolated packing. The capacity-planning query a 100 TB corpus
    run starts with; the audit stage is pure map-side integer
    arithmetic on the per-doc symbol counts. The oracle re-learns the
    rules (the text_bpe_encode unrolled chain) and replays the
    integer ceil-div accounting."""
    d = _t(spark, sf, "documents")
    merges = ops.bpe_learn_merges(d, rounds=3)
    enc = ops.bpe_encode(d, merges)
    return ops.token_cost_audit(
        enc.select("doc_id", F.col("n_symbols").alias("n_tokens")),
        context_len=128,
    )


def q_quality_epoch_repeat_audit(spark, sf):
    """Epoch/repeat audit under a 110k-token budget (round 17,
    post-freeze — r18 window lead): per source the tempered mixture
    weight, the requested token count, the implied epoch count
    against the source's available tokens, the over-cap flag at 4
    epochs (the data-constrained-scaling rule of thumb), and the
    shortfall the recipe must source elsewhere. One corpus agg
    (mixture_weights) + arithmetic on the n_sources rows; the oracle
    reuses the mixture CTE chain and the identical floor/round
    order."""
    d = _t(spark, sf, "documents")
    return ops.epoch_repeat_audit(
        d, budget_tokens=110_000, temperature=0.5, repeat_cap=4.0
    )


def q_quality_packing_dividend(spark, sf):
    """Packing dividend (round 17, post-freeze — r18 window lead):
    per pack_sequences shard, document-isolated padding (the
    token_cost_audit policy: every doc rounded up to whole 64-token
    sequences, empty docs cost one all-pad sequence) versus the
    concatenate-and-split stream's tail-only padding, and the
    dividend — the sequence compute the packer reclaims. Pure map +
    one shard-keyed combinable agg, zero windows; the oracle replays
    the H56 shard, the exact integer ceil-div and the one double
    division."""
    d = _t(spark, sf, "documents")
    return ops.packing_dividend(d, token_budget=64, n_shards=8)


def q_quality_mojibake_scrub(spark, sf):
    """Encoding-damage scrub (round 16, post-freeze — r17 window
    lead): the fixture plants the two most common UTF-8-as-cp1252
    mojibake sequences ('Ã©' for every 'a' on doc_id%3==0 docs,
    'â€™' for every 'e' on doc_id%3==1 docs); fix_mojibake counts
    markers before repair and applies the chained literal-replace
    repair map. Pure map-side string algebra — zero shuffles; the
    oracle replays the injection and the identical replace chain."""
    d = _t(spark, sf, "documents")
    damaged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.replace(F.col("text"), F.lit("a"), F.lit("Ã©")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.replace(F.col("text"), F.lit("e"), F.lit("â€™")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return ops.fix_mojibake(damaged)


def q_sim_embedding_outliers(spark, sf):
    """Embedding-space outlier audit (round 16, post-freeze — r17
    window lead): diagonal Mahalanobis z² against the corpus's own
    per-dim mean/std (exact decimal sums -> literal-array stats ->
    pure map scoring), flag at 4.0x active dims. The fixture plants
    five 10x-scaled copies — far off the per-dim scale, so they must
    flag; the oracle replays stats and the 8dp-rounded decimal term
    sum exactly."""
    e = _t(spark, sf, "embeddings")
    planted = e.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 300000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(10.0)).cast("float")
        ).alias("embedding"),
        "label",
    )
    return ops.embedding_outliers(e.unionByName(planted), threshold=4.0)


def q_sim_clip_filter(spark, sf):
    """CLIP-score image-text pair alignment filter (round 16, VERDICT
    r15 #6): per pair the cosine between the paired image/text
    embeddings, a corpus-percentile threshold from the TWO-PHASE exact
    global rank (no unpartitioned sort), and the keep flag — the
    cross-modal curation gate that drops mismatched captions. The
    fixture pairs every corpus vector with an FP-exact 0.5x copy
    (cos 1.0) except every 5th, whose text side is the REVERSED
    embedding (deterministically misaligned); trim_percentile=0.2
    cuts the bottom fifth. One pair join + one broadcast scalar —
    no corpus shuffle beyond the rank's bucket exchange."""
    e = _t(spark, sf, "embeddings")
    pairs = e.select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").alias("img_embedding"),
        F.when(
            F.col("vec_id") % 5 == 0, F.reverse("embedding")
        )
        .otherwise(
            F.transform("embedding", lambda x: (x * F.lit(0.5)).cast("float"))
        )
        .alias("txt_embedding"),
    )
    return ops.clip_score_filter(pairs, trim_percentile=0.2)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registered queries: name -> ``fn(spark, sf_dir)`` returning
    a DataFrame. Each has a DuckDB oracle in ``oracle_sql()``.

    Every callable is wrapped in the scoped ``runtime_confs`` context:
    the full DataFrame build runs under engine semantics (ANSI off,
    UTC, nanos-as-long) and the caller's session confs are RESTORED
    before the callable returns — safe because Spark bakes these
    semantics into the plan at build time (see sources.runtime_confs),
    so the driver's later collect executes the engine's semantics on
    its own untouched session."""
    import functools

    from graph_etl_spark.sources import runtime_confs

    def _scoped(fn):
        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            with runtime_confs(spark):
                return fn(spark, sf_dir)

        return wrapped

    registry = {
        "quality_kn_logprob": q_quality_kn_logprob,
        "events_concurrency": q_events_concurrency,
        "events_cusum_changepoint": q_events_cusum_changepoint,
        "events_ab_ztest": q_events_ab_ztest,
        "etl_table_checksum": q_etl_table_checksum,
        "graph_modularity": q_graph_modularity,
        "graph_louvain_move": q_graph_louvain_move,
        "graph_louvain_communities": q_graph_louvain_communities,
        "graph_louvain_coarsen": q_graph_louvain_coarsen,
        "graph_louvain_two_level": q_graph_louvain_two_level,
        "graph_louvain_multilevel": q_graph_louvain_multilevel,
        "sim_mmr_rerank": q_sim_mmr_rerank,
        "sim_hamming_topk": q_sim_hamming_topk,
        "events_ab_cuped": q_events_ab_cuped,
        "sim_hybrid_rrf": q_sim_hybrid_rrf,
        "dedup_ngram_novelty": q_dedup_ngram_novelty,
        "dedup_minhash_audit": q_dedup_minhash_audit,
        "dedup_cdc_chunks": q_dedup_cdc_chunks,
        "dedup_cdc_guarded": q_dedup_cdc_guarded,
        "dedup_overlap_pairs": q_dedup_overlap_pairs,
        "quality_k_anonymity": q_quality_k_anonymity,
        "quality_cohen_kappa": q_quality_cohen_kappa,
        "quality_token_budget": q_quality_token_budget,
        "events_ab_srm": q_events_ab_srm,
        "graph_closeness": q_graph_closeness,
        "text_vocab_overlap": q_text_vocab_overlap,
        "events_bot_users": q_events_bot_users,
        "sim_ivf_recall_curve": q_sim_ivf_recall_curve,
        "quality_gopher_rules": q_quality_gopher_rules,
        "approx_hll_union": q_approx_hll_union,
        "graph_ktruss": q_graph_ktruss,
        "text_char_entropy": q_text_char_entropy,
        "dedup_dup_rate_by_source": q_dedup_dup_rate_by_source,
        "mm_resize_real": q_mm_resize_real,
        "mm_image_ahash_dedup": q_mm_image_ahash_dedup,
        "events_survival_km": q_events_survival_km,
        "approx_cms_counts": q_approx_cms_counts,
        "approx_hll_distinct": q_approx_hll_distinct,
        "quality_mad_outliers": q_quality_mad_outliers,
        "etl_bloom_semi_join": q_etl_bloom_semi_join,
        "etl_bloom_semi_join_scale": q_etl_bloom_semi_join_scale,
        "quality_dsir_weights": q_quality_dsir_weights,
        "sim_matryoshka_recall": q_sim_matryoshka_recall,
        "events_top_paths": q_events_top_paths,
        "etl_freshness": q_etl_freshness,
        "quality_domain_shift": q_quality_domain_shift,
        "asof_join_nearest": q_asof_join_nearest,
        "text_langid_confusion": q_text_langid_confusion,
        "text_fertility": q_text_fertility,
        "events_markov_steady_state": q_events_markov_steady_state,
        "mm_decode_real": q_mm_decode_real,
        "mm_audio_features": q_mm_audio_features,
        "mm_video_frames": q_mm_video_frames,
        "mm_audio_windows": q_mm_audio_windows,
        "graph_link_prediction": q_graph_link_prediction,
        "graph_node2vec_walks": q_graph_node2vec_walks,
        "text_rake_keywords": q_text_rake_keywords,
        "sim_mips_topk": q_sim_mips_topk,
        "quality_shard_plan": q_quality_shard_plan,
        "quality_gini_tokens": q_quality_gini_tokens,
        "sim_mips_ivf_topk": q_sim_mips_ivf_topk,
        "events_holt_forecast": q_events_holt_forecast,
        "etl_fk_orphans": q_etl_fk_orphans,
        "events_seasonal_profile": q_events_seasonal_profile,
        "text_llr_collocations": q_text_llr_collocations,
        "approx_heavy_hitters": q_approx_heavy_hitters,
        "sim_l2_topk": q_sim_l2_topk,
        "events_seasonal_anomaly": q_events_seasonal_anomaly,
        "graph_personalized_pagerank": q_graph_personalized_pagerank,
        "approx_quantile_sketch": q_approx_quantile_sketch,
        "sim_maxsim_topk": q_sim_maxsim_topk,
        "dedup_containment_pairs": q_dedup_containment_pairs,
        "events_funnel_windowed": q_events_funnel_windowed,
        "events_rfm_segments": q_events_rfm_segments,
        "etl_key_skew_report": q_etl_key_skew_report,
        "text_zipf_fit": q_text_zipf_fit,
        "text_textrank_keywords": q_text_textrank_keywords,
        "quality_negative_samples": q_quality_negative_samples,
        "quality_ppl_gate": q_quality_ppl_gate,
        "etl_chunk_counts": q_etl_chunk_counts,
        "quality_quantile_normalize": q_quality_quantile_normalize,
        "topk_orders": q_topk_orders,
        "sim_quantize_int8": q_sim_quantize_int8,
        "text_lang_id": q_text_lang_id,
        "text_token_stats": q_text_token_stats,
        "win_running_total": q_win_running_total,
        "asof_join_events": q_asof_join_events,
        "cube_agg": q_cube_agg,
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_ngram_jaccard_pairs": q_dedup_ngram_jaccard_pairs,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "etl_automap_j2": q_etl_automap_j2,
        "etl_remap_j1": q_etl_remap_j1,
        "events_gap_fill": q_events_gap_fill,
        "graph_degrees": q_graph_degrees,
        "graph_betweenness": q_graph_betweenness,
        "graph_pagerank": q_graph_pagerank,
        "json_extract_events": q_json_extract_events,
        "moving_avg": q_moving_avg,
        "pivot_status": q_pivot_status,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q5_local_supplier_volume": q_q5_local_supplier_volume,
        "quality_repetition_stats": q_quality_repetition_stats,
        "quality_source_quota": q_quality_source_quota,
        "quality_tfidf_top_terms": q_quality_tfidf_top_terms,
        "range_join_parts": q_range_join_parts,
        "rollup_lineitem": q_rollup_lineitem,
        "sim_cosine_topk": q_sim_cosine_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_ivf_trained_topk": q_sim_ivf_trained_topk,
        "sim_kmeans_assign": q_sim_kmeans_assign,
        "sim_kmeans_centroids": q_sim_kmeans_centroids,
        "stats_agg": q_stats_agg,
        "text_winnow_fingerprints": q_text_winnow_fingerprints,
        "unpivot_part": q_unpivot_part,
        "dedup_incremental": q_dedup_incremental,
        "dedup_minhash_lsh_pairs": q_dedup_minhash_lsh_pairs,
        "dedup_minhash_signatures": q_dedup_minhash_signatures,
        "dedup_neardup_survivors": q_dedup_neardup_survivors,
        "dedup_passages": q_dedup_passages,
        "dedup_simhash_signatures": q_dedup_simhash_signatures,
        "dedup_span_scrub": q_dedup_span_scrub,
        "etl_anti_join_blanks": q_etl_anti_join_blanks,
        "etl_dedup_pk": q_etl_dedup_pk,
        "etl_metadata_attach": q_etl_metadata_attach,
        "etl_normalize_nodes": q_etl_normalize_nodes,
        "etl_semi_join_match": q_etl_semi_join_match,
        "etl_union_sources": q_etl_union_sources,
        "events_sessionize": q_events_sessionize,
        "graph_connected_components": q_graph_connected_components,
        "graph_triangles": q_graph_triangles,
        "mm_binary_metadata": q_mm_binary_metadata,
        "pipeline_corpus_assembly": q_pipeline_corpus_assembly,
        "q13_customer_distribution": q_q13_customer_distribution,
        "q14_promo_revenue": q_q14_promo_revenue,
        "q18_large_volume": q_q18_large_volume,
        "q19_discount_revenue": q_q19_discount_revenue,
        "q22_dormant_balance": q_q22_dormant_balance,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q4_order_priority": q_q4_order_priority,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q8_market_share": q_q8_market_share,
        "quality_bigram_logprob": q_quality_bigram_logprob,
        "quality_chunk_documents": q_quality_chunk_documents,
        "quality_contamination": q_quality_contamination,
        "quality_curriculum_order": q_quality_curriculum_order,
        "quality_gate": q_quality_gate,
        "quality_unigram_logprob": q_quality_unigram_logprob,
        "salted_count": q_salted_count,
        "sim_cosine_allpairs_ref": q_sim_cosine_allpairs_ref,
        "sim_cosine_neardup_pairs": q_sim_cosine_neardup_pairs,
        "sim_ivfpq_topk": q_sim_ivfpq_topk,
        "sim_pq_codebooks": q_sim_pq_codebooks,
        "sim_pq_codes": q_sim_pq_codes,
        "sim_pq_refine_topk": q_sim_pq_refine_topk,
        "text_bpe_merges": q_text_bpe_merges,
        "text_fuzzy_pairs": q_text_fuzzy_pairs,
        "text_quality_scores": q_text_quality_scores,
        "basket_frequent_pairs": q_basket_frequent_pairs,
        "etl_cascade_delete": q_etl_cascade_delete,
        "etl_mask_columns": q_etl_mask_columns,
        "etl_profile_table": q_etl_profile_table,
        "etl_profile_table_fast": q_etl_profile_table_fast,
        "etl_scd2_history": q_etl_scd2_history,
        "etl_snapshot_diff": q_etl_snapshot_diff,
        "etl_upsert_nodes": q_etl_upsert_nodes,
        "events_attribution": q_events_attribution,
        "events_ewma": q_events_ewma,
        "events_funnel": q_events_funnel,
        "events_hopping_counts": q_events_hopping_counts,
        "events_markov": q_events_markov,
        "events_retention": q_events_retention,
        "events_cohort_ltv": q_events_cohort_ltv,
        "events_burstiness": q_events_burstiness,
        "graph_assortativity": q_graph_assortativity,
        "events_rolling_median": q_events_rolling_median,
        "events_tumbling_counts": q_events_tumbling_counts,
        "graph_bellman_ford": q_graph_bellman_ford,
        "graph_bfs_distances": q_graph_bfs_distances,
        "graph_hits": q_graph_hits,
        "graph_kcore": q_graph_kcore,
        "graph_label_propagation": q_graph_label_propagation,
        "q11_important_supply": q_q11_important_supply,
        "q12_priority_shipping": q_q12_priority_shipping,
        "q15_top_supplier": q_q15_top_supplier,
        "q16_supplier_part_counts": q_q16_supplier_part_counts,
        "q17_small_quantity_revenue": q_q17_small_quantity_revenue,
        "q20_dominant_suppliers": q_q20_dominant_suppliers,
        "q21_waiting_orders": q_q21_waiting_orders,
        "q2_min_cost_supplier": q_q2_min_cost_supplier,
        "q9_product_type_profit": q_q9_product_type_profit,
        "quality_clf_weights": q_quality_clf_weights,
        "quality_corr_matrix": q_quality_corr_matrix,
        "quality_dataset_split": q_quality_dataset_split,
        "quality_histogram": q_quality_histogram,
        "quality_mixture_sample": q_quality_mixture_sample,
        "quality_trigram_ppl": q_quality_trigram_ppl,
        "quality_zscore_outliers": q_quality_zscore_outliers,
        "sim_random_projection": q_sim_random_projection,
        "sim_semantic_dedup_pairs": q_sim_semantic_dedup_pairs,
        "text_bpe_encode": q_text_bpe_encode,
        "text_entity_clusters": q_text_entity_clusters,
        "text_inverted_index": q_text_inverted_index,
        "text_normalize": q_text_normalize,
        "text_pmi_bigrams": q_text_pmi_bigrams,
        "text_url_dedup": q_text_url_dedup,
        "approx_distinct_custkeys": q_approx_distinct_custkeys,
        "approx_quantiles": q_approx_quantiles,
        "array_funcs": q_array_funcs,
        "conditional_agg": q_conditional_agg,
        "date_funcs": q_date_funcs,
        "distinct_counts": q_distinct_counts,
        "etl_apply_cdc": q_etl_apply_cdc,
        "etl_array_flatten": q_etl_array_flatten,
        "etl_expectations": q_etl_expectations,
        "etl_scd2_pit": q_etl_scd2_pit,
        "etl_split_explode": q_etl_split_explode,
        "etl_zorder_layout": q_etl_zorder_layout,
        "events_covisitation": q_events_covisitation,
        "events_enriched_stats": q_events_enriched_stats,
        "events_ohlc": q_events_ohlc,
        "events_ohlc_windowed": q_events_ohlc_windowed,
        "events_session_windows": q_events_session_windows,
        "events_spike_detection": q_events_spike_detection,
        "events_threshold_crossings": q_events_threshold_crossings,
        "graph_neighbor_stats": q_graph_neighbor_stats,
        "graph_random_walks": q_graph_random_walks,
        "mm_decode_stub": q_mm_decode_stub,
        "mm_frame_sample": q_mm_frame_sample,
        "pandas_udf_normalize": q_pandas_udf_normalize,
        "percentiles": q_percentiles,
        "q10_returned_items": q_q10_returned_items,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "quality_boilerplate_ngrams": q_quality_boilerplate_ngrams,
        "quality_group_percentiles": q_quality_group_percentiles,
        "quality_hash_sample": q_quality_hash_sample,
        "quality_pack_sequences": q_quality_pack_sequences,
        "quality_pr_curve": q_quality_pr_curve,
        "quality_scrub_contact": q_quality_scrub_contact,
        "quality_winsorize": q_quality_winsorize,
        "set_except_custkeys": q_set_except_custkeys,
        "set_intersect_custkeys": q_set_intersect_custkeys,
        "sim_embedding_drift": q_sim_embedding_drift,
        "sim_embedding_norms": q_sim_embedding_norms,
        "sim_ranking_eval": q_sim_ranking_eval,
        "sql_interface_q1": q_sql_interface_q1,
        "stream_ingest_admission": q_stream_ingest_admission,
        "stream_interval_join": q_stream_interval_join,
        "string_funcs": q_string_funcs,
        "text_bm25_rank": q_text_bm25_rank,
        "text_feature_hashing": q_text_feature_hashing,
        "text_fingerprint": q_text_fingerprint,
        "win_lag_lead": q_win_lag_lead,
        "win_rank_funcs": q_win_rank_funcs,
        "dedup_line_dedup": q_dedup_line_dedup,
        "text_readability": q_text_readability,
        "etl_compaction_plan": q_etl_compaction_plan,
        "quality_ppl_buckets": q_quality_ppl_buckets,
        "mm_image_phash_dedup": q_mm_image_phash_dedup,
        "events_power_analysis": q_events_power_analysis,
        "mm_video_scene_cuts": q_mm_video_scene_cuts,
        "events_ab_did": q_events_ab_did,
        "dedup_soft_weights": q_dedup_soft_weights,
        "dedup_lsh_recall_curve": q_dedup_lsh_recall_curve,
        "dedup_semdedup": q_dedup_semdedup,
        "sim_eval_contamination": q_sim_eval_contamination,
        "mm_image_phash_pairs": q_mm_image_phash_pairs,
        "quality_domain_reweight": q_quality_domain_reweight,
        "dedup_cluster_split": q_dedup_cluster_split,
        "mm_audio_fingerprint_dedup": q_mm_audio_fingerprint_dedup,
        "mm_image_phash_pairs_wide": q_mm_image_phash_pairs_wide,
        "sim_clip_filter": q_sim_clip_filter,
        "quality_mojibake_scrub": q_quality_mojibake_scrub,
        "sim_embedding_outliers": q_sim_embedding_outliers,
        "mm_video_keyframe_dedup": q_mm_video_keyframe_dedup,
        "dedup_minhash_contamination": q_dedup_minhash_contamination,
        "mm_audio_fingerprint_pairs": q_mm_audio_fingerprint_pairs,
        "mm_video_keyframe_pairs": q_mm_video_keyframe_pairs,
        "quality_token_cost_audit": q_quality_token_cost_audit,
        "quality_packing_dividend": q_quality_packing_dividend,
        "quality_epoch_repeat_audit": q_quality_epoch_repeat_audit,
        "graph_scc": q_graph_scc,
        "sim_binary_rerank": q_sim_binary_rerank,
        "quality_calibration_bins": q_quality_calibration_bins,
    }
    # an outside driver scores the first 50 entries, in this order
    first = [
        "graph_louvain_move", "graph_louvain_communities",
        "graph_louvain_two_level", "graph_louvain_multilevel",
        "graph_pagerank", "graph_personalized_pagerank",
        "quality_clf_weights", "etl_bloom_semi_join",
        "sim_ivf_recall_curve",
        "graph_hits", "graph_ktruss",
        "asof_join_events", "asof_join_nearest",
        "dedup_dup_rate_by_source", "dedup_minhash_audit",
        "dedup_passages", "dedup_simhash_signatures",
        "dedup_span_scrub", "etl_anti_join_blanks", "etl_dedup_pk",
        "etl_metadata_attach", "etl_normalize_nodes",
        "etl_semi_join_match", "etl_table_checksum",
        "etl_union_sources", "events_sessionize", "graph_betweenness",
        "graph_connected_components", "graph_modularity",
        "mm_binary_metadata", "pipeline_corpus_assembly",
        "q13_customer_distribution", "q14_promo_revenue",
        "q18_large_volume", "q19_discount_revenue",
        "q22_dormant_balance", "q3_shipping_priority",
        "q4_order_priority", "q7_volume_shipping", "q8_market_share",
        "quality_bigram_logprob", "quality_chunk_documents",
        "quality_contamination", "quality_curriculum_order",
        "quality_gate", "quality_mad_outliers",
        "quality_unigram_logprob", "salted_count",
        "sim_cosine_allpairs_ref", "sim_mmr_rerank",
    ]
    ordered = {k: registry[k] for k in first}
    ordered.update({k: v for k, v in registry.items() if k not in ordered})
    return {name: _scoped(fn) for name, fn in ordered.items()}


# ---------------------------------------------------------------------------
# DuckDB oracles (ANSI-ish; tables pre-registered as views)
# ---------------------------------------------------------------------------

# shared SQL fragments
_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"
_H56 = "(('0x' || substr(md5({x}), 1, 14))::BIGINT)"


def _shingles(toks: str = _TOKS, n: int = 3) -> str:
    """DuckDB expression mirroring ops.dedup.shingles_col."""
    return (
        f"list_distinct(CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["etl_normalize_nodes"] = r"""
        WITH cleaned AS (
          SELECT c_custkey,
                 regexp_replace(c_name, '[\r\n\\]', '', 'g') AS c_name,
                 regexp_replace(c_mktsegment, '[\r\n\\]', '', 'g') AS c_mktsegment,
                 c_acctbal
          FROM customer
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY c_custkey
            ORDER BY c_name ASC NULLS LAST, c_mktsegment ASC NULLS LAST,
                     c_acctbal ASC NULLS LAST) AS rn
          FROM cleaned
        )
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        FROM ranked WHERE rn = 1 AND c_custkey IS NOT NULL
    """

    sql["etl_dedup_pk"] = """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderkey ASC NULLS LAST, o_orderstatus ASC NULLS LAST,
                            o_totalprice ASC NULLS LAST) AS rn
          FROM orders
        )
        SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
        FROM ranked WHERE rn = 1
    """

    sql["etl_remap_j1"] = """
        WITH edges AS (SELECT o_custkey AS start, o_orderkey AS "end" FROM orders),
        mapping AS (SELECT c_custkey AS old_value, c_name AS new_value FROM customer),
        joined AS (
          SELECT COALESCE(m.new_value, e.start::VARCHAR) AS start,
                 e."end" AS "end", e.start AS mapped_from
          FROM edges e FULL OUTER JOIN mapping m ON e.start = m.old_value
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY start, "end" ORDER BY mapped_from ASC NULLS LAST) AS rn
          FROM joined
        )
        SELECT start, "end", mapped_from FROM ranked WHERE rn = 1
    """

    sql["etl_automap_j2"] = """
        WITH edges AS (
          SELECT o.o_orderkey AS start, c.c_name AS "end"
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        mapping AS (SELECT c_custkey AS new_value, c_name AS old_value FROM customer),
        joined AS (
          SELECT e.start AS start, COALESCE(m.new_value, NULL) AS "end"
          FROM edges e FULL OUTER JOIN mapping m ON e."end" = m.old_value
        ), ranked AS (
          SELECT start, "end",
                 row_number() OVER (PARTITION BY start, "end" ORDER BY 1) AS rn
          FROM joined
        )
        SELECT start, "end" FROM ranked WHERE rn = 1
    """

    sql["etl_semi_join_match"] = """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """

    sql["etl_anti_join_blanks"] = """
        SELECT DISTINCT o_custkey AS id, TRUE AS blank_node
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """

    sql["etl_array_flatten"] = """
        SELECT c_nationkey::INT AS c_nationkey,
               string_agg(c_name, '|' ORDER BY c_name) AS names
        FROM customer GROUP BY c_nationkey
    """

    sql["etl_split_explode"] = f"""
        SELECT token, COUNT(*)::BIGINT AS cnt
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
        ORDER BY cnt DESC, token
        LIMIT 20
    """

    sql["etl_union_sources"] = """
        SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
        UNION ALL
        SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
    """

    sql["etl_chunk_counts"] = """
        WITH rn AS (
          SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn FROM orders
        )
        SELECT (rn // 500)::BIGINT AS chunk, COUNT(*)::BIGINT AS n_rows
        FROM rn GROUP BY 1
    """

    sql["etl_metadata_attach"] = """
        SELECT s_suppkey, s_name, 'tpch' AS meta_source, 1 AS meta_version
        FROM supplier
    """

    sql["q1_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
               SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
               SUM(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS sum_disc_price,
               SUM(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * (1::DECIMAL(18,2) + l_tax::DECIMAL(18,2)))::DOUBLE AS sum_charge,
               COUNT(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["sql_interface_q1"] = """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
               SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
               COUNT(*)::BIGINT AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["q3_shipping_priority"] = """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               SUM(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """

    sql["q5_local_supplier_volume"] = """
        SELECT n_name,
               SUM(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = n_nationkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
        GROUP BY n_name
    """

    sql["win_running_total"] = """
        SELECT o_custkey, o_orderkey,
               SUM(o_totalprice::DECIMAL(18,2)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS running_total
        FROM orders WHERE o_custkey <= 100
    """

    sql["win_lag_lead"] = """
        SELECT o_custkey, o_orderkey,
               lag(o_orderkey) OVER w AS prev_orderkey,
               lead(o_orderkey) OVER w AS next_orderkey,
               (epoch(o_orderdate) - lag(epoch(o_orderdate)) OVER w)::BIGINT AS secs_since_prev
        FROM orders WHERE o_custkey <= 50
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """

    sql["win_rank_funcs"] = """
        SELECT o_orderstatus, o_orderkey,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ROUND(percent_rank() OVER w, 6) AS prnk,
               ROUND(cume_dist() OVER w, 6) AS cdist,
               ntile(4) OVER w AS quartile
        FROM orders WHERE o_custkey <= 200
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey)
    """

    sql["array_funcs"] = """
        WITH per_nation AS (
          SELECT c_nationkey, list_sort(list(c_custkey)) AS keys
          FROM customer GROUP BY c_nationkey
        )
        SELECT c_nationkey::INT AS c_nationkey,
               len(keys)::INT AS n_keys,
               keys[1] AS first_key,
               keys[-1] AS last_key,
               list_slice(keys, 1, 3)::VARCHAR AS first3,
               list_contains(keys, 1) AS has_key_1,
               len(list_intersect(keys, range(0, 100)))::INT AS n_under_100
        FROM per_nation
    """

    sql["percentiles"] = """
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY o_orderstatus
    """

    # Tolerance-banded sketch oracles: the Spark side returns exact
    # values plus within-band booleans for its sketches; the oracle
    # recomputes the exact values and expects TRUE.
    sql["approx_quantiles"] = """
        SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 4) AS exact_p90,
               TRUE AS p50_within_5pct,
               TRUE AS p90_within_5pct
        FROM orders
    """

    sql["approx_distinct_custkeys"] = """
        SELECT COUNT(DISTINCT o_custkey)::BIGINT AS exact_custkeys,
               TRUE AS within_5pct
        FROM orders
    """

    sql["string_funcs"] = r"""
        SELECT p_partkey,
               upper(p_name) AS upper_name,
               length(p_name)::INT AS name_len,
               substr(p_brand, 1, 5) AS brand_prefix,
               concat_ws('/', p_brand, p_type) AS brand_type,
               COALESCE(regexp_extract(p_type, '^(\w+)', 1), '') AS type_head,
               lpad(p_partkey::VARCHAR, 8, '0') AS padded_key,
               reverse(p_brand) AS brand_rev
        FROM part
    """

    sql["date_funcs"] = """
        SELECT o_orderkey,
               year(o_orderdate)::INT AS y,
               month(o_orderdate)::INT AS m,
               day(o_orderdate)::INT AS d,
               date_trunc('month', o_orderdate) AS month_start,
               (dayofweek(o_orderdate) + 1)::INT AS dow,
               quarter(o_orderdate)::INT AS q
        FROM orders
    """

    sql["conditional_agg"] = """
        SELECT o_orderpriority,
               COUNT(*)::BIGINT AS n,
               COUNT(*) FILTER (o_orderstatus = 'F')::BIGINT AS n_finished,
               SUM(CASE WHEN o_totalprice > 100000 THEN o_totalprice::DECIMAL(18,2)
                        ELSE 0::DECIMAL(18,2) END)::DOUBLE AS big_total,
               MAX(o_totalprice) AS max_price,
               MIN(o_totalprice) AS min_price
        FROM orders GROUP BY o_orderpriority
    """

    sql["topk_orders"] = """
        SELECT o_orderkey, o_custkey, o_totalprice, rank FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
                 row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)::INT AS rank
          FROM orders
        ) WHERE rank <= 15
    """

    sql["set_intersect_custkeys"] = """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """

    sql["set_except_custkeys"] = """
        SELECT c_custkey AS k FROM customer
        EXCEPT
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    """

    sql["rollup_lineitem"] = """
        SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n,
               SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    sql["stats_agg"] = """
        SELECT l_returnflag,
               ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
               ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS covar_price_qty,
               ROUND(stddev_samp(l_discount), 6) AS std_discount,
               ROUND(var_samp(l_discount), 6) AS var_discount
        FROM lineitem GROUP BY l_returnflag
    """

    sql["pivot_status"] = """
        SELECT o_orderpriority,
               COUNT(*) FILTER (o_orderstatus = 'F')::BIGINT AS n_F,
               COUNT(*) FILTER (o_orderstatus = 'O')::BIGINT AS n_O,
               COUNT(*) FILTER (o_orderstatus = 'P')::BIGINT AS n_P
        FROM orders GROUP BY o_orderpriority
    """

    sql["moving_avg"] = """
        SELECT o_custkey, o_orderkey,
               (SUM(o_totalprice::DECIMAL(18,2)) OVER w
                / COUNT(*) OVER w)::DOUBLE AS ma7
        FROM orders WHERE o_custkey <= 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """

    sql["pandas_udf_normalize"] = """
        WITH n AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings
        )
        SELECT vec_id,
               ROUND(e[1] / nrm, 4) AS c0,
               ROUND(e[64] / nrm, 4) AS c63
        FROM n
    """

    sql["cube_agg"] = """
        SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n,
               SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    sql["salted_count"] = """
        SELECT l_returnflag, COUNT(*)::BIGINT AS cnt
        FROM lineitem GROUP BY l_returnflag
    """

    sql["distinct_counts"] = """
        SELECT c_mktsegment, COUNT(DISTINCT c_nationkey)::BIGINT AS n_nations,
               COUNT(*)::BIGINT AS n_customers
        FROM customer GROUP BY c_mktsegment
    """

    sql["json_extract_events"] = """
        SELECT event_type, COUNT(*)::BIGINT AS n,
               MIN(json_extract(props, '$.k')::BIGINT) AS min_k,
               MAX(json_extract(props, '$.k')::BIGINT) AS max_k,
               SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k
        FROM events GROUP BY event_type
    """

    sql["q6_forecast_revenue"] = """
        SELECT SUM(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2))::DOUBLE AS revenue,
               COUNT(*)::BIGINT AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """

    sql["q10_returned_items"] = """
        SELECT c_custkey, c_name, n_name,
               SUM(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
          AND c_nationkey = n_nationkey
          AND o_orderdate >= TIMESTAMP '1995-10-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """

    sql["q4_order_priority"] = """
        SELECT o_orderpriority, COUNT(*)::BIGINT AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """

    sql["q7_volume_shipping"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l.l_shipdate)::INT AS l_year,
               SUM(l.l_extendedprice::DECIMAL(18,2)
                   * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2)))::DOUBLE AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE s.s_nationkey IN (0, 1, 2, 3, 4)
          AND c.c_nationkey IN (0, 1, 2, 3, 4)
          AND s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2, 3
    """

    sql["q8_market_share"] = """
        WITH vol AS (
          SELECT year(o.o_orderdate) AS o_year, n2.n_name AS supp_nation,
                 l.l_extendedprice::DECIMAL(18,2)
                   * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2)) AS rev
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
          JOIN region r ON n1.n_regionkey = r.r_regionkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
          WHERE p.p_type = 'PROMO' AND r.r_name = 'EUROPE'
        ), agg AS (
          SELECT o_year::INT AS o_year,
                 SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                          ELSE 0::DECIMAL(18,2) END)::DOUBLE AS nation_vol,
                 SUM(rev)::DOUBLE AS total_vol
          FROM vol GROUP BY 1
        )
        SELECT o_year, ROUND(nation_vol / total_vol, 4) AS mkt_share,
               nation_vol, total_vol
        FROM agg
    """

    sql["q13_customer_distribution"] = """
        WITH per_cust AS (
          SELECT c.c_custkey, COUNT(o.o_orderkey)::BIGINT AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        )
        SELECT c_count, COUNT(*)::BIGINT AS custdist
        FROM per_cust GROUP BY c_count
    """

    sql["q14_promo_revenue"] = """
        WITH agg AS (
          SELECT SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                          THEN l.l_extendedprice::DECIMAL(18,2)
                               * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2))
                          ELSE 0::DECIMAL(18,2) END)::DOUBLE AS promo_rev,
                 SUM(l.l_extendedprice::DECIMAL(18,2)
                     * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2)))::DOUBLE AS total_rev
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
            AND l.l_shipdate < TIMESTAMP '1997-10-01'
        )
        SELECT ROUND(100.0 * promo_rev / total_rev, 4) AS promo_pct,
               promo_rev, total_rev
        FROM agg
    """

    sql["q18_large_volume"] = """
        WITH big AS (
          SELECT l_orderkey,
                 SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity::DECIMAL(18,2))::DOUBLE > 300
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, big.sum_qty
        FROM big
        JOIN orders o ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """

    sql["q19_discount_revenue"] = """
        SELECT SUM(l.l_extendedprice::DECIMAL(18,2)
                   * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2)))::DOUBLE AS revenue,
               COUNT(*)::BIGINT AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 24)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
               AND l.l_quantity BETWEEN 10 AND 34)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 20 AND 44)
    """

    sql["q22_dormant_balance"] = """
        WITH bal AS (
          SELECT SUM(c_acctbal::DECIMAL(18,2)) AS total_bal,
                 COUNT(*)::BIGINT AS n_bal
          FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_nationkey, COUNT(*)::BIGINT AS numcust,
               SUM(c.c_acctbal::DECIMAL(18,2))::DOUBLE AS totacctbal
        FROM customer c, bal
        WHERE c.c_acctbal::DECIMAL(18,2) * bal.n_bal > bal.total_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c.c_nationkey
    """

    sql["unpivot_part"] = """
        SELECT p_partkey, 'p_size' AS attr, p_size::DOUBLE AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice::DOUBLE AS val FROM part
    """

    sql["events_gap_fill"] = """
        WITH span AS (
          SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
          FROM events
        ), grid AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour, et.event_type
          FROM span, (SELECT DISTINCT event_type FROM events) et
        ), hourly AS (
          SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT g.hour, g.event_type, COALESCE(h.n, 0)::BIGINT AS n_events
        FROM grid g LEFT JOIN hourly h
          ON g.hour = h.hour AND g.event_type = h.event_type
    """

    sql["events_tumbling_counts"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*)::BIGINT AS n_events,
               SUM(ROUND(value, 4)::DECIMAL(18,4))::DOUBLE AS sum_value
        FROM events GROUP BY 1, 2
    """

    # Hopping windows: event at t belongs to the 4 windows starting at
    # floor(epoch/900)*900 - k*900 for k in 0..3 (1h/15m, epoch-aligned
    # — the F.window contract).
    sql["events_hopping_counts"] = """
        SELECT (FLOOR(epoch(ts) / 900) * 900 - k.k * 900)::BIGINT AS window_start,
               event_type, COUNT(*)::BIGINT AS n_events,
               SUM(ROUND(value, 4)::DECIMAL(18,4))::DOUBLE AS sum_value
        FROM events, unnest(range(0, 4)) AS k(k)
        GROUP BY 1, 2
    """

    # SCD-1 upsert: updates win on key collision. Anti-join + union
    # encodes ROW-REPLACE semantics unconditionally (a full-outer
    # per-column coalesce would silently keep the current side's value
    # wherever an update row carries a NULL non-key column).
    sql["etl_upsert_nodes"] = """
        WITH c AS (
          SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        ), updates AS (
          SELECT c_custkey, upper(c_name) AS c_name,
                 ROUND(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
          FROM c WHERE c_custkey % 7 = 0
          UNION ALL
          SELECT c_custkey + 9000000, 'NEW-' || c_name, c_acctbal, c_mktsegment
          FROM c WHERE c_custkey < 50
        )
        SELECT * FROM updates
        UNION ALL
        SELECT c.* FROM c ANTI JOIN updates u USING (c_custkey)
    """

    # Round-8 TPC-H completion battery (the nine analogs the r7
    # expansion left out; partsupp-dependent queries derive the supply
    # relation from lineitem, date-only schemas adapt the lateness
    # predicates — each docstring states the preserved join shape)
    sql["q2_min_cost_supplier"] = """
        WITH offers AS (
          SELECT l_partkey, l_suppkey,
                 MIN(l_extendedprice::DECIMAL(18,2)) AS offer_price
          FROM lineitem GROUP BY l_partkey, l_suppkey
        ), best AS (
          SELECT l_partkey, MIN(offer_price) AS min_price
          FROM offers GROUP BY l_partkey
        )
        SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
               b.min_price::DOUBLE AS min_price
        FROM offers o
        JOIN best b ON o.l_partkey = b.l_partkey AND o.offer_price = b.min_price
        JOIN part p ON o.l_partkey = p.p_partkey AND p.p_size = 15
        JOIN supplier s ON o.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    """

    sql["q9_product_type_profit"] = """
        SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
               SUM(l.l_extendedprice::DECIMAL(18,2)
                   * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2))
                   - p.p_retailprice::DECIMAL(18,2) * 0.5::DECIMAL(18,2)
                     * l.l_quantity::DECIMAL(18,2))::DOUBLE AS sum_profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'red%'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """

    sql["q11_important_supply"] = """
        WITH per_part AS (
          SELECT l_partkey,
                 SUM(l_extendedprice::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)) AS part_value
          FROM lineitem GROUP BY l_partkey
        ), tot AS (
          SELECT SUM(l_extendedprice::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)) AS total_value
          FROM lineitem
        )
        SELECT l_partkey, part_value::DOUBLE AS part_value
        FROM per_part, tot
        WHERE part_value * 1500 > total_value
    """

    sql["q12_priority_shipping"] = """
        SELECT l.l_returnflag,
               SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate::DATE > o.o_orderdate::DATE + 30
          AND year(l.l_shipdate) = 1997
        GROUP BY l.l_returnflag
    """

    sql["q15_top_supplier"] = """
        WITH rev AS (
          SELECT l_suppkey,
                 SUM(l_extendedprice::DECIMAL(18,2)
                     * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        ), mx AS (SELECT MAX(total_revenue) AS max_revenue FROM rev)
        SELECT s.s_suppkey, s.s_name, r.total_revenue::DOUBLE AS total_revenue
        FROM rev r, mx
        JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r.total_revenue = mx.max_revenue
    """

    sql["q16_supplier_part_counts"] = """
        WITH supply AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        )
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT su.l_suppkey)::BIGINT AS supplier_cnt
        FROM supply su
        JOIN part p ON su.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND su.l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """

    sql["q17_small_quantity_revenue"] = """
        WITH per_part AS (
          SELECT l_partkey, SUM(l_quantity::DECIMAL(18,2)) AS sum_qty,
                 COUNT(*)::BIGINT AS n_li
          FROM lineitem GROUP BY l_partkey
        )
        SELECT (SUM(l.l_extendedprice::DECIMAL(18,2))
                / 7::DECIMAL(18,2))::DOUBLE AS avg_yearly
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#13'
        JOIN per_part pp ON l.l_partkey = pp.l_partkey
        WHERE l.l_quantity::DECIMAL(18,2) * 5 * pp.n_li < pp.sum_qty
    """

    sql["q20_dominant_suppliers"] = """
        WITH y95 AS (
          SELECT l.l_partkey, l.l_suppkey, l.l_quantity
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'small%'
          WHERE year(l.l_shipdate) = 1995
        ), sp AS (
          SELECT l_partkey, l_suppkey,
                 SUM(l_quantity::DECIMAL(18,2)) AS supp_qty
          FROM y95 GROUP BY l_partkey, l_suppkey
        ), per_part AS (
          SELECT l_partkey, SUM(supp_qty) AS part_qty FROM sp GROUP BY l_partkey
        ), dominant AS (
          SELECT DISTINCT sp.l_suppkey
          FROM sp JOIN per_part pp ON sp.l_partkey = pp.l_partkey
          WHERE sp.supp_qty * 2 > pp.part_qty
        )
        SELECT s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    """

    sql["q21_waiting_orders"] = """
        WITH f_orders AS (
          SELECT o_orderkey, o_orderdate::DATE AS odate
          FROM orders WHERE o_orderstatus = 'F'
        ), li AS (
          SELECT l_orderkey, l_suppkey, l_shipdate::DATE AS sdate FROM lineitem
        ), late AS (
          SELECT DISTINCT li.l_orderkey, li.l_suppkey
          FROM li JOIN f_orders f ON li.l_orderkey = f.o_orderkey
          WHERE li.sdate > f.odate + 60
        ), waiting AS (
          SELECT lt.l_orderkey, lt.l_suppkey
          FROM late lt
          WHERE EXISTS (SELECT 1 FROM li o2
                        WHERE o2.l_orderkey = lt.l_orderkey
                          AND o2.l_suppkey <> lt.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM late l2
                            WHERE l2.l_orderkey = lt.l_orderkey
                              AND l2.l_suppkey <> lt.l_suppkey)
        )
        SELECT s.s_name, COUNT(*)::BIGINT AS numwait
        FROM waiting w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        GROUP BY s.s_name
    """

    sql["text_fuzzy_pairs"] = """
        WITH names AS (SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
        grams AS (
          SELECT DISTINCT name, g FROM (
            SELECT name,
                   CASE WHEN length(name) >= 3
                        THEN unnest(list_transform(range(1, length(name) - 1),
                                    i -> substr(name, i, 3)))
                        ELSE name END AS g
            FROM names
          )
        ),
        cands AS (
          SELECT DISTINCT a.name AS name_a, b.name AS name_b
          FROM grams a JOIN grams b ON a.g = b.g AND a.name < b.name
        )
        SELECT name_a, name_b, levenshtein(name_a, name_b)::INT AS edit_dist
        FROM cands
        WHERE levenshtein(name_a, name_b) <= 2
          AND abs(length(name_a) - length(name_b)) <= 2
    """

    # Per-column profile: UNION ALL of per-column aggregates; numeric
    # stats cast through DOUBLE, string stats over LENGTH — mirroring
    # ops.quality.profile_table's uniform schema.
    _prof_num = lambda c: f"""
        SELECT '{c}' AS column, 'numeric' AS kind,
               (SELECT COUNT(*) FROM li)::BIGINT AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
               COUNT(DISTINCT {c})::BIGINT AS n_distinct,
               ROUND(MIN({c}::DOUBLE), 6) AS min_val,
               ROUND(MAX({c}::DOUBLE), 6) AS max_val,
               ROUND(SUM(ROUND({c}::DOUBLE, 6)::DECIMAL(18,6))::DOUBLE / COUNT({c}), 6) AS avg_val
        FROM li"""  # noqa: E731
    _prof_len = lambda c, kind: f"""
        SELECT '{c}' AS column, '{kind}' AS kind,
               (SELECT COUNT(*) FROM li)::BIGINT AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
               COUNT(DISTINCT {c})::BIGINT AS n_distinct,
               ROUND(MIN(length({c}::VARCHAR)::DOUBLE), 6) AS min_val,
               ROUND(MAX(length({c}::VARCHAR)::DOUBLE), 6) AS max_val,
               ROUND(SUM(ROUND(length({c}::VARCHAR)::DOUBLE, 6)::DECIMAL(18,6))::DOUBLE / COUNT({c}), 6) AS avg_val
        FROM li"""  # noqa: E731
    sql["etl_profile_table"] = (
        "WITH li AS (SELECT l_orderkey, l_quantity, l_extendedprice, "
        "l_discount, l_returnflag, l_shipdate, l_linestatus FROM lineitem)\n"
        + " UNION ALL ".join(
            [
                _prof_num("l_orderkey"),
                _prof_num("l_quantity"),
                _prof_num("l_extendedprice"),
                _prof_num("l_discount"),
                _prof_len("l_returnflag", "string_len"),
                _prof_len("l_shipdate", "other_str_len"),
                _prof_len("l_linestatus", "string_len"),
            ]
        )
    )

    # fast single-scan profile: exact stats must match exactly; the
    # HLL distinct estimate is judged by a TRUE verdict (within 5% of
    # exact — deterministic, approx_count_distinct is seed-fixed)
    _proff_num = lambda c: f"""
        SELECT '{c}' AS column, 'numeric' AS kind,
               (SELECT COUNT(*) FROM li)::BIGINT AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
               ROUND(MIN({c}::DOUBLE), 6) AS min_val,
               ROUND(MAX({c}::DOUBLE), 6) AS max_val,
               ROUND(SUM(ROUND({c}::DOUBLE, 6)::DECIMAL(18,6))::DOUBLE / COUNT({c}), 6) AS avg_val,
               TRUE AS distinct_ok
        FROM li"""  # noqa: E731
    _proff_len = lambda c, kind: f"""
        SELECT '{c}' AS column, '{kind}' AS kind,
               (SELECT COUNT(*) FROM li)::BIGINT AS n_rows,
               SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
               ROUND(MIN(length({c}::VARCHAR)::DOUBLE), 6) AS min_val,
               ROUND(MAX(length({c}::VARCHAR)::DOUBLE), 6) AS max_val,
               ROUND(SUM(ROUND(length({c}::VARCHAR)::DOUBLE, 6)::DECIMAL(18,6))::DOUBLE / COUNT({c}), 6) AS avg_val,
               TRUE AS distinct_ok
        FROM li"""  # noqa: E731
    sql["etl_profile_table_fast"] = (
        "WITH li AS (SELECT l_orderkey, l_quantity, l_extendedprice, "
        "l_discount, l_returnflag, l_shipdate, l_linestatus FROM lineitem)\n"
        + " UNION ALL ".join(
            [
                _proff_num("l_orderkey"),
                _proff_num("l_quantity"),
                _proff_num("l_extendedprice"),
                _proff_num("l_discount"),
                _proff_len("l_returnflag", "string_len"),
                _proff_len("l_shipdate", "other_str_len"),
                _proff_len("l_linestatus", "string_len"),
            ]
        )
    )

    sql["events_sessionize"] = """
        WITH gaps AS (
          SELECT user_id, ts,
                 epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap
          FROM events
        ), flags AS (
          SELECT user_id,
                 CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_session
          FROM gaps
        ), sess AS (
          SELECT user_id,
                 SUM(new_session) OVER (
                   PARTITION BY user_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM flags
        )
        SELECT user_id, MAX(session_id)::BIGINT AS n_sessions, COUNT(*)::BIGINT AS n_events
        FROM sess GROUP BY user_id
    """

    sql["asof_join_events"] = """
        WITH clicks AS (
          SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        ), errors AS (
          SELECT user_id, ts, event_id AS error_event_id FROM events WHERE event_type = 'error'
        )
        SELECT c.user_id, c.event_id, e.error_event_id AS last_error_id
        FROM clicks c ASOF LEFT JOIN errors e
          ON c.user_id = e.user_id AND e.ts <= c.ts
    """

    sql["range_join_parts"] = """
        WITH bins(bucket, lo, hi) AS (
          VALUES ('small', 0, 15), ('medium', 15, 35), ('large', 35, 1000)
        )
        SELECT bucket, COUNT(*)::BIGINT AS n_parts,
               SUM(p_retailprice::DECIMAL(18,2))::DOUBLE AS sum_price
        FROM part JOIN bins ON p_size >= lo AND p_size < hi
        GROUP BY bucket
    """

    sql["text_token_stats"] = f"""
        SELECT doc_id,
               len({_TOKS})::INT AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]+|[^A-Za-z0-9\\s]'))::INT AS n_bpe_tokens
        FROM documents
    """

    sql["text_quality_scores"] = f"""
        WITH base AS (
          SELECT doc_id, text,
                 len({_TOKS}) AS n_tok,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                 len(list_filter({_TOKS}, t -> lower(t) IN
                   ('the','and','of','to','a','in','is','it','you','that'))) AS stop_hits
          FROM documents
        ), ratios AS (
          SELECT doc_id, n_tok AS n_tokens,
                 CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok::DOUBLE ELSE 0.0 END AS mwl,
                 CASE WHEN n_chars > 0 THEN n_punct / n_chars::DOUBLE ELSE 0.0 END AS pr,
                 CASE WHEN n_tok > 0 THEN stop_hits / n_tok::DOUBLE ELSE 0.0 END AS sr
          FROM base
        )
        SELECT doc_id, n_tokens::INT AS n_tokens,
               ROUND(mwl, 4) AS mean_word_len,
               ROUND(pr, 4) AS punct_ratio,
               ROUND(sr, 4) AS stopword_ratio,
               ROUND(CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN mwl BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END
                   + CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END
                   + CASE WHEN sr >= 0.05 THEN 0.1 ELSE 0.0 END, 2) AS quality
        FROM ratios
    """

    _hits = lambda sw: (  # noqa: E731
        f"len(list_filter(list_transform({_TOKS}, t -> lower(t)), t -> t IN ({sw})))"
    )
    en = "'the','and','of','to','a','in','is','it','you','that'"
    fr = "'le','la','et','les','des','un','une','du','que','est'"
    es = "'el','la','de','que','y','los','en','un','una','es'"
    de = "'der','die','und','das','ein','ist','von','mit','den','zu'"
    sql["text_lang_id"] = f"""
        WITH hits AS (
          SELECT doc_id, lang,
                 {_hits(en)} AS h_en, {_hits(fr)} AS h_fr,
                 {_hits(es)} AS h_es, {_hits(de)} AS h_de
          FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN greatest(h_en, h_fr, h_es, h_de) = 0 THEN 'und'
                    WHEN h_de = greatest(h_en, h_fr, h_es, h_de) THEN 'de'
                    WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                    WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM hits
    """

    sql["text_fertility"] = f"""
        SELECT lang, COUNT(*)::BIGINT AS n_docs,
               SUM(len({_TOKS}))::BIGINT AS n_words,
               SUM(len(regexp_extract_all(text,
                 '[A-Za-z]{{1,4}}|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT
                 AS n_bpe_tokens,
               ROUND(SUM(len(regexp_extract_all(text,
                       '[A-Za-z]{{1,4}}|[0-9]+|[^A-Za-z0-9\\s]')))::DOUBLE
                     / SUM(len({_TOKS}))::DOUBLE, 6) AS fertility
        FROM documents GROUP BY lang
    """

    sql["text_langid_confusion"] = f"""
        WITH hits AS (
          SELECT doc_id, lang,
                 {_hits(en)} AS h_en, {_hits(fr)} AS h_fr,
                 {_hits(es)} AS h_es, {_hits(de)} AS h_de
          FROM documents
        ), pred AS (
          SELECT lang AS label,
                 CASE WHEN greatest(h_en, h_fr, h_es, h_de) = 0 THEN 'und'
                      WHEN h_de = greatest(h_en, h_fr, h_es, h_de) THEN 'de'
                      WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                      WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                      ELSE 'fr' END AS predicted
          FROM hits
        )
        SELECT label, predicted, COUNT(*)::BIGINT AS n,
               (label = predicted) AS correct
        FROM pred GROUP BY label, predicted
    """

    sql["text_fingerprint"] = f"""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                 list_filter(string_split(lower(text), ' '), t -> t <> ''))), ' ')) AS fingerprint
        FROM documents
    """

    # Winnowing (k=8, window=4): k-gram H56 hashes, per-window minima,
    # distinct+sorted, md5 — mirrors ops.text.winnow_fingerprints.
    # COALESCE(text,'') matches the Spark side's ``(text or "")``: a
    # NULL document degrades to the whole-''-hash fingerprint instead
    # of silently diverging (md5(NULL) is NULL in SQL).
    sql["text_winnow_fingerprints"] = """
        WITH grams AS (
          SELECT doc_id,
                 CASE WHEN length(lower(coalesce(text, ''))) >= 8 THEN
                   list_transform(range(1, length(lower(coalesce(text, ''))) - 6),
                     i -> ('0x' || substr(md5(substr(lower(coalesce(text, '')), i::INT, 8)), 1, 14))::BIGINT)
                 ELSE [('0x' || substr(md5(lower(coalesce(text, ''))), 1, 14))::BIGINT]
                 END AS gh
          FROM documents
        ), sel AS (
          SELECT doc_id, len(gh)::INT AS n_grams,
                 list_sort(list_distinct(
                   list_transform(range(1, greatest(len(gh) - 3, 1) + 1),
                     j -> list_min(list_slice(gh, j::INT, (j + 3)::INT))))) AS fps
          FROM grams
        )
        SELECT doc_id, n_grams, len(fps)::INT AS n_selected,
               md5(array_to_string(list_transform(fps, x -> x::VARCHAR), ',')) AS winnow_fp
        FROM sel
    """

    # member_ids is capped at 100 on the Spark side (bounded audit
    # array); list_slice mirrors the cap exactly — a no-op at oracle
    # scale but semantically identical at every scale.
    sql["dedup_exact_groups"] = """
        WITH hashed AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
          FROM documents
        )
        SELECT content_hash, COUNT(*)::BIGINT AS n_dups, MIN(doc_id) AS keep_id,
               md5(array_to_string(list_transform(
                 list_slice(list_sort(list(doc_id)), 1, 100),
                 x -> x::VARCHAR), ',')) AS members_fp
        FROM hashed GROUP BY content_hash
    """

    from graph_etl_spark.operators.dedup import perm_constants

    _sh = _shingles()
    _mh_elem = lambda r: (  # noqa: E731
        f"list_min(list_transform(hs, h -> xor(h, {r}::BIGINT)))"
    )
    mh_list = ", ".join(_mh_elem(r) for r in perm_constants(16))
    sql["dedup_minhash_signatures"] = f"""
        WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
        hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
        sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs)
        SELECT doc_id,
               md5(array_to_string(list_transform(minhash, x -> x::VARCHAR), ',')) AS sig_fp,
               minhash[1] AS mh_0, minhash[16] AS mh_15
        FROM sigs
    """

    band_exprs = ", ".join(
        f"md5(array_to_string(list_transform(list_slice(minhash, {b * 2 + 1}, {b * 2 + 2}), x -> x::VARCHAR), ','))"
        for b in range(8)
    )
    sql["dedup_minhash_lsh_pairs"] = f"""
        WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
        hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
        sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
        banded AS (
          SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                 unnest([{band_exprs}]) AS band_hash
          FROM sigs
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """

    # sketch-quality audit: estimate (agreeing signature positions)
    # beside exact shingle Jaccard, per LSH candidate pair; the exact
    # ratio mirrors the ngram oracle's inter/(na+nb-inter)::DOUBLE
    sql["dedup_minhash_audit"] = f"""
        WITH shd AS (SELECT doc_id, unnest({_sh}) AS s FROM documents),
        sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh
                  FROM shd GROUP BY doc_id),
        hs AS (SELECT doc_id,
                      list_transform({_sh}, s ->
                        ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs
               FROM documents),
        sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
        banded AS (
          SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                 unnest([{band_exprs}]) AS band_hash
          FROM sigs
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ),
        inter AS (
          SELECT p.id_a, p.id_b, COUNT(*)::BIGINT AS i
          FROM pairs p
          JOIN shd x ON x.doc_id = p.id_a
          JOIN shd y ON y.doc_id = p.id_b AND y.s = x.s
          GROUP BY 1, 2
        ),
        est AS (
          SELECT p.id_a, p.id_b,
                 list_sum(list_transform(range(1, 17),
                   i -> CASE WHEN sa.minhash[i] = sb.minhash[i]
                             THEN 1 ELSE 0 END))::BIGINT AS eq
          FROM pairs p
          JOIN sigs sa ON sa.doc_id = p.id_a
          JOIN sigs sb ON sb.doc_id = p.id_b
        )
        SELECT e.id_a, e.id_b,
               ROUND(eq::DOUBLE / 16.0, 6) AS est_jaccard,
               ROUND(COALESCE(i.i, 0)
                     / (sa.n_sh + sb.n_sh - COALESCE(i.i, 0))::DOUBLE, 6)
                 AS exact_jaccard,
               ROUND(ABS(ROUND(eq::DOUBLE / 16.0, 6)
                         - ROUND(COALESCE(i.i, 0)
                                 / (sa.n_sh + sb.n_sh
                                     - COALESCE(i.i, 0))::DOUBLE, 6)), 6)
                 AS abs_err
        FROM est e
        LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        JOIN sizes sa ON sa.doc_id = e.id_a
        JOIN sizes sb ON sb.doc_id = e.id_b
    """

    # End-to-end dedup pipeline: the minhash pair body above, closed
    # into components with a recursive reach CTE (the CC-oracle
    # pattern), then one survivor row per cluster.
    sql["dedup_neardup_survivors"] = f"""
        WITH RECURSIVE pairs AS (
          WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
          hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
          sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
          banded AS (
            SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash
            FROM sigs
          )
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), assign AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON d.doc_id = c.id
        )
        SELECT cluster_id AS survivor_id, COUNT(*)::BIGINT AS n_members
        FROM assign GROUP BY cluster_id
    """

    # Per-source duplicate rate: the same exact component closure;
    # every non-canonical cluster member charges its source
    sql["dedup_dup_rate_by_source"] = f"""
        WITH RECURSIVE pairs AS (
          WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
          hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
          sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
          banded AS (
            SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash
            FROM sigs
          )
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), assign AS (
          SELECT d.doc_id, d.source,
                 COALESCE(c.component, d.doc_id) AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON d.doc_id = c.id
        )
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               SUM(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END)::BIGINT
                 AS n_redundant,
               ROUND(SUM(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END)
                     ::DOUBLE / COUNT(*)::DOUBLE, 6) AS dup_rate
        FROM assign GROUP BY source
    """

    # Corpus-assembly manifest: the same component closure, then
    # survivors (cluster_id = own id) x token filter x embedding
    # quantization scale (the sim_quantize_int8 scale law).
    sql["pipeline_corpus_assembly"] = f"""
        WITH RECURSIVE pairs AS (
          WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
          hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
          sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
          banded AS (
            SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash
            FROM sigs
          )
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), assign AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON d.doc_id = c.id
        ), survivors AS (
          SELECT doc_id FROM assign WHERE cluster_id = doc_id
        ), docs AS (
          SELECT doc_id, lang, len({_TOKS})::INT AS n_tokens FROM documents
        ), vec AS (
          SELECT vec_id AS doc_id,
                 ROUND(CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END, 6) AS q_scale
          FROM (SELECT vec_id,
                       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
                FROM embeddings)
        )
        SELECT d.doc_id, d.lang, d.n_tokens, v.q_scale
        FROM survivors s
        JOIN docs d ON s.doc_id = d.doc_id
        JOIN vec v ON s.doc_id = v.doc_id
        WHERE d.n_tokens >= 20
    """

    vote = lambda b: (  # noqa: E731
        f"CASE WHEN list_sum(list_transform(toks, t -> CASE WHEN "
        f"(('0x' || substr(md5(t), 1, 14))::BIGINT & {1 << b}) <> 0 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b} ELSE 0 END"
    )
    sim_expr = " + ".join(vote(b) for b in range(32))
    sql["dedup_simhash_signatures"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id, ({sim_expr})::BIGINT AS simhash FROM t
        WHERE len(toks) > 0
    """

    # Exhaustive pairwise Hamming in SQL vs the pigeonhole equi-join in
    # Spark — both exact, so they must agree bit-for-bit.
    sql["dedup_simhash_pairs"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sig AS (
          SELECT doc_id, ({sim_expr})::BIGINT AS simhash FROM t WHERE len(toks) > 0
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """

    # Mirrors the Spark side's stop-shingle cap (max_shingle_df=16):
    # shingles in more than 16 documents leave both the index and the
    # set sizes. A no-op at oracle scale (max df is 7 at sf0.01) but
    # semantically identical at every scale.
    sql["dedup_ngram_jaccard_pairs"] = f"""
        WITH sh0 AS (
          SELECT doc_id, unnest({_sh}) AS s FROM documents
        ), dfreq AS (
          SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
        ), sh AS (
          SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfreq USING (s) WHERE df <= 16
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE, 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE, 6) >= 0.12
    """

    _cos = (
        "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)"
    )
    sql["sim_cosine_topk"] = f"""
        WITH scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_cos} AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)::INT AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """

    # Oracle for the LSH-bucketed near-dup query: exact all-pairs over
    # the SAME augmented corpus (50 planted 2×-scaled copies, cosine
    # exactly 1.0 with their source). Exhaustive in SQL, LSH in Spark —
    # recall on the planted pairs is provably 1.0 (scaling preserves
    # every hyperplane sign), so exact == approximate here.
    sql["sim_cosine_neardup_pairs"] = f"""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
          FROM embeddings WHERE vec_id < 50
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos} AS cos_sim
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE {_cos} >= 0.95
    """

    sql["sim_cosine_allpairs_ref"] = f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos} AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_cos} >= 0.45
    """

    # SemDeDup oracle: the full semantic_dedup_pairs pipeline unrolled
    # in SQL — augmented corpus (same 50 planted 2×-scaled dups as the
    # LSH query), L2 normalization (zero-norm guard mirrored from
    # l2_normalize), 2 Lloyd's iterations at k=8 with the same
    # determinism contract as the kmeans oracles (round-6 distances,
    # cent_id tiebreak, round-6 centroid components, empty-cluster
    # carry-forward), one assignment pass against the trained frame,
    # then the within-cell pair join at round-4 cosine >= 0.95 —
    # exactly operators/similarity.py:semantic_dedup_pairs.
    sd_iters = []
    prev = "c0"
    for t in range(1, 3):
        sd_iters.append(f"""s{t} AS (
          SELECT vec_id, vec, cent_id,
                 ROUND(list_sum(list_transform(range(1, 65),
                   i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6) AS dist
          FROM v CROSS JOIN {prev}
        ), a{t} AS MATERIALIZED (
          SELECT vec_id, vec, cent_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
            FROM s{t}
          ) WHERE rn = 1
        ), c{t} AS MATERIALIZED (
          SELECT p.cent_id, coalesce(n.cvec, p.cvec) AS cvec
          FROM {prev} p LEFT JOIN (
            SELECT cent_id, list(val ORDER BY pos) AS cvec FROM (
              SELECT cent_id, pos, ROUND(AVG(vec[pos]), 6) AS val
              FROM a{t} CROSS JOIN dims GROUP BY cent_id, pos
            ) GROUP BY cent_id
          ) n USING (cent_id)
        )""")
        prev = f"c{t}"
    sd_body = ",\n".join(sd_iters)
    _sd_cos = (
        "ROUND(list_dot_product(a.vec, b.vec) / "
        "(sqrt(list_dot_product(a.vec, a.vec)) * "
        "sqrt(list_dot_product(b.vec, b.vec))), 4)"
    )
    sql["sim_semantic_dedup_pairs"] = f"""
        WITH corpus AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))::DOUBLE[] AS raw
          FROM embeddings WHERE vec_id < 50
        ),
        v AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(raw,
                   x -> x / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END)) AS vec
          FROM (
            SELECT vec_id, raw,
                   sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
            FROM corpus
          )
        ),
        dims AS (SELECT unnest(range(1, 65)) AS pos),
        c0 AS MATERIALIZED (
          SELECT vec_id AS cent_id, vec AS cvec FROM v ORDER BY vec_id LIMIT 8
        ),
        {sd_body},
        asn AS MATERIALIZED (
          SELECT vec_id, vec, cent_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
            FROM (
              SELECT vec_id, vec, cent_id,
                     ROUND(list_sum(list_transform(range(1, 65),
                       i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6) AS dist
              FROM v CROSS JOIN c2
            )
          ) WHERE rn = 1
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cent_id AS cent_id,
               {_sd_cos} AS cos_sim
        FROM asn a JOIN asn b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE {_sd_cos} >= 0.95
    """

    # SemDeDup end-to-end: the semantic-pair chain above feeds a
    # recursive-CTE connected components (the dedup_soft_weights
    # pattern), then min-id components, sizes, and the keep-one flag.
    # Corpus ids re-derive inside `assign` because the pair CTE's
    # nested scope owns the augmented corpus.
    sql["dedup_semdedup"] = f"""
        WITH RECURSIVE pairs AS (
          WITH corpus AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))::DOUBLE[] AS raw
            FROM embeddings WHERE vec_id < 50
          ),
          v AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(raw,
                     x -> x / (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END)) AS vec
            FROM (
              SELECT vec_id, raw,
                     sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
              FROM corpus
            )
          ),
          dims AS (SELECT unnest(range(1, 65)) AS pos),
          c0 AS MATERIALIZED (
            SELECT vec_id AS cent_id, vec AS cvec FROM v ORDER BY vec_id LIMIT 8
          ),
          {sd_body},
          asn AS MATERIALIZED (
            SELECT vec_id, vec, cent_id FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
              FROM (
                SELECT vec_id, vec, cent_id,
                       ROUND(list_sum(list_transform(range(1, 65),
                         i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6) AS dist
                FROM v CROSS JOIN c2
              )
            ) WHERE rn = 1
          )
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM asn a JOIN asn b
            ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
          WHERE {_sd_cos} >= 0.95
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), ids AS (
          SELECT vec_id FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 FROM embeddings WHERE vec_id < 50
        ), assign AS (
          SELECT i.vec_id, COALESCE(c.component, i.vec_id) AS cluster_id
          FROM ids i
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON i.vec_id = c.id
        ), sizes AS (
          SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
          FROM assign GROUP BY cluster_id
        )
        SELECT a.vec_id, a.cluster_id, s.cluster_size,
               a.vec_id = a.cluster_id AS keep
        FROM assign a JOIN sizes s USING (cluster_id)
    """

    # Embedding contamination: planted 0.5x copies (FP-exact halving)
    # of the first ten eval vectors give cosine exactly 1.0; the
    # per-eval max mirrors the struct-max tie-break (cos DESC, train
    # id DESC).
    sql["sim_eval_contamination"] = """
        WITH train AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id >= 20
          UNION ALL
          SELECT vec_id + 200000,
                 list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))::DOUBLE[]
          FROM embeddings WHERE vec_id < 10
        ), ev AS (
          SELECT vec_id, embedding::DOUBLE[] AS v
          FROM embeddings WHERE vec_id < 20
        ), scored AS (
          SELECT e.vec_id AS query_id, t.vec_id AS tid,
                 ROUND(list_dot_product(e.v, t.v) /
                       (sqrt(list_dot_product(e.v, e.v)) *
                        sqrt(list_dot_product(t.v, t.v))), 4) AS cos
          FROM ev e CROSS JOIN train t
        ), best AS (
          SELECT query_id, cos, tid,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, tid DESC) AS rn
          FROM scored
        )
        -- LEFT JOIN from the eval set: an eval vector with no
        -- scoreable pair keeps its row (NULL max, contaminated false)
        SELECT e.vec_id AS query_id, b.cos AS max_cos_sim,
               b.tid AS nearest_train_id,
               COALESCE(b.cos >= 0.999, FALSE) AS contaminated
        FROM ev e LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
          ON e.vec_id = b.query_id
    """

    # Verdict oracle: the Spark query computes aggregate IVF recall vs
    # the exact top-k inside one plan and asserts >= 0.6; the oracle
    # pins the constants and expects the verdict to hold.
    sql["sim_ivf_topk"] = """
        SELECT 10 AS n_queries, 5 AS k, TRUE AS recall_ok
    """

    # same verdict contract for the kmeans-trained IVF composition
    sql["sim_ivf_trained_topk"] = """
        SELECT 10 AS n_queries, 5 AS k, TRUE AS recall_ok
    """

    # kmeans-assign shard report: 2 unrolled training iterations, then
    # one assignment pass against c2 — same determinism contract as
    # the trainer oracle above.
    ka_iters = []
    prev = "c0"
    for t in range(1, 3):
        ka_iters.append(f"""s{t} AS (
          SELECT vec_id, vec, cent_id,
                 ROUND(list_sum(list_transform(range(1, 65),
                   i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6) AS dist
          FROM v CROSS JOIN {prev}
        ), a{t} AS MATERIALIZED (
          SELECT vec_id, vec, cent_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
            FROM s{t}
          ) WHERE rn = 1
        ), c{t} AS MATERIALIZED (
          -- empty cluster keeps its previous centroid (left join onto
          -- the prior frame), mirroring _kmeans_fit's carry-forward
          SELECT p.cent_id, coalesce(n.cvec, p.cvec) AS cvec
          FROM {prev} p LEFT JOIN (
            SELECT cent_id, list(val ORDER BY pos) AS cvec FROM (
              SELECT cent_id, pos, ROUND(AVG(vec[pos]), 6) AS val
              FROM a{t} CROSS JOIN dims GROUP BY cent_id, pos
            ) GROUP BY cent_id
          ) n USING (cent_id)
        )""")
        prev = f"c{t}"
    ka_body = ",\n".join(ka_iters)
    sql["sim_kmeans_assign"] = f"""
        WITH v AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        dims AS (SELECT unnest(range(1, 65)) AS pos),
        c0 AS MATERIALIZED (
          SELECT vec_id AS cent_id, vec AS cvec FROM v ORDER BY vec_id LIMIT 4
        ),
        {ka_body},
        asn AS (
          SELECT vec_id, cent_id, dist FROM (
            SELECT vec_id, cent_id,
                   ROUND(list_sum(list_transform(range(1, 65),
                     i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6) AS dist,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY ROUND(list_sum(list_transform(range(1, 65),
                       i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6),
                       cent_id) AS rn
            FROM v CROSS JOIN c2
          ) WHERE rn = 1
        )
        SELECT cent_id, e.label, COUNT(*)::BIGINT AS n_vecs,
               ROUND(AVG(dist), 4) AS avg_dist
        FROM asn JOIN embeddings e USING (vec_id)
        GROUP BY cent_id, e.label
    """

    # Product quantization: 4 per-subspace kmeans chains (2 unrolled
    # Lloyd iterations each over list_slice sub-vectors), same
    # determinism contract as the kmeans oracles. Codes are the seed
    # rank (row_number over ascending vec_id, 0-based); codebooks
    # union the 4 final frames; encode is one more argmin pass per
    # subspace against them.
    pq_chains = []
    for s in range(4):
        lo, hi = s * 16 + 1, (s + 1) * 16
        pq_chains.append(f"""v{s} AS MATERIALIZED (
          SELECT vec_id, list_slice(vec, {lo}, {hi}) AS sub FROM v
        ), c{s}_0 AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, sub AS cvec
          FROM (SELECT vec_id, sub FROM v{s} ORDER BY vec_id LIMIT 8)
        )""")
        for t in (1, 2):
            pq_chains.append(f"""s{s}_{t} AS (
          SELECT vec_id, sub, code,
                 ROUND(list_sum(list_transform(range(1, 17),
                   i -> (sub[i] - cvec[i]) * (sub[i] - cvec[i]))), 6) AS dist
          FROM v{s} CROSS JOIN c{s}_{t - 1}
        ), a{s}_{t} AS MATERIALIZED (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, code) AS rn
            FROM s{s}_{t}
          ) WHERE rn = 1
        ), c{s}_{t} AS MATERIALIZED (
          SELECT p.code, coalesce(n.cvec, p.cvec) AS cvec
          FROM c{s}_{t - 1} p LEFT JOIN (
            SELECT code, list(val ORDER BY pos) AS cvec FROM (
              SELECT code, pos, ROUND(AVG(sub[pos]), 6) AS val
              FROM a{s}_{t} CROSS JOIN dims16 GROUP BY code, pos
            ) GROUP BY code
          ) n USING (code)
        )""")
    pq_body = ",\n".join(pq_chains)
    pq_books_union = " UNION ALL ".join(
        f"SELECT {s} AS subspace, code, cvec FROM c{s}_2" for s in range(4)
    )
    sql["sim_pq_codebooks"] = f"""
        WITH v AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        dims16 AS (SELECT unnest(range(1, 17)) AS pos),
        {pq_body},
        books AS ({pq_books_union})
        SELECT subspace::INT AS subspace, code::INT AS code,
               (pos - 1)::INT AS pos, cvec[pos] AS value
        FROM books CROSS JOIN dims16
    """
    pq_enc_ctes = ",\n".join(
        f"""e{s} AS MATERIALIZED (
          SELECT vec_id, code FROM (
            SELECT x.vec_id, c.code, row_number() OVER (
              PARTITION BY x.vec_id ORDER BY
                ROUND(list_sum(list_transform(range(1, 17),
                  i -> (x.sub[i] - c.cvec[i]) * (x.sub[i] - c.cvec[i]))), 6),
                c.code) AS rn
            FROM v{s} x CROSS JOIN c{s}_2 c
          ) WHERE rn = 1
        )"""
        for s in range(4)
    )
    sql["sim_pq_codes"] = f"""
        WITH v AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        dims16 AS (SELECT unnest(range(1, 17)) AS pos),
        {pq_body},
        {pq_enc_ctes}
        SELECT e0.vec_id,
               md5(array_to_string(
                 list_transform([e0.code, e1.code, e2.code, e3.code],
                                x -> x::VARCHAR), ',')) AS codes_fp,
               e0.code::INT AS code_0, e3.code::INT AS code_3
        FROM e0 JOIN e1 USING (vec_id) JOIN e2 USING (vec_id) JOIN e3 USING (vec_id)
    """

    # PQ refine + IVF-PQ verdicts: same contract as the IVF recall
    # oracles.
    sql["sim_pq_refine_topk"] = """
        SELECT 10 AS n_queries, 5 AS k, TRUE AS recall_ok
    """
    sql["sim_ivfpq_topk"] = """
        SELECT 10 AS n_queries, 5 AS k, TRUE AS recall_ok
    """

    # int8 quantization: q uses the UNROUNDED scale; round-6 is
    # display-only — mirrored exactly on the Spark side.
    sql["sim_quantize_int8"] = """
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ), s AS (
          SELECT vec_id, vec,
                 CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS scale
          FROM (SELECT vec_id, vec,
                       list_max(list_transform(vec, x -> abs(x))) AS amax
                FROM v)
        ), q AS (
          SELECT vec_id, vec, scale,
                 list_transform(vec, x -> round(x * scale)::INT) AS qvec
          FROM s
        )
        SELECT vec_id, ROUND(scale, 6) AS scale,
               md5(array_to_string(list_transform(qvec, x -> x::VARCHAR), ',')) AS q_fp,
               ROUND(list_sum(list_transform(range(1, len(vec) + 1),
                     i -> abs(vec[i] - qvec[i] / scale))) / len(vec), 6) AS mae
        FROM q
    """

    sql["sim_embedding_norms"] = """
        SELECT label, COUNT(*)::BIGINT AS n_vecs,
               ROUND(AVG(ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)), 4) AS avg_norm
        FROM embeddings GROUP BY label
    """

    _ngraph = """
        SELECT 'c' || c_custkey AS src, 'n' || c_nationkey AS dst FROM customer
        UNION ALL
        SELECT 'n' || n_nationkey AS src, 'r' || n_regionkey AS dst FROM nation
    """
    sql["graph_degrees"] = f"""
        WITH g AS ({_ngraph}),
        outd AS (SELECT src AS id, COUNT(*)::BIGINT AS out_degree FROM g GROUP BY src),
        ind AS (SELECT dst AS id, COUNT(*)::BIGINT AS in_degree FROM g GROUP BY dst)
        SELECT COALESCE(outd.id, ind.id) AS id,
               COALESCE(in_degree, 0)::BIGINT AS in_degree,
               COALESCE(out_degree, 0)::BIGINT AS out_degree,
               (COALESCE(in_degree, 0) + COALESCE(out_degree, 0))::BIGINT AS degree
        FROM outd FULL OUTER JOIN ind ON outd.id = ind.id
    """

    sql["graph_triangles"] = """
        WITH e AS (
          SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                          GREATEST(a.l_partkey, b.l_partkey) AS v
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), t AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1 JOIN e e2 ON e1.v = e2.u
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT id, COUNT(*)::BIGINT AS n_triangles FROM (
          SELECT unnest([a, b, c]) AS id FROM t
        ) GROUP BY id
    """

    sql["graph_connected_components"] = f"""
        WITH RECURSIVE pairs AS (
          WITH sh0 AS (SELECT doc_id, unnest({_sh}) AS s FROM documents),
          dfreq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
          sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfreq USING (s) WHERE df <= 16),
          sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
          inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
          )
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
          WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE, 6) >= 0.12
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        )
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        FROM documents d
        LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
          ON d.doc_id = c.id
    """

    # SCC over the directed containment graph: the pairs CTE is the
    # dedup_containment_pairs body; direction filters turn each
    # ≥-threshold containment side into an edge; recursive closure +
    # mutual reachability gives scc_id = min mutually-reachable id
    sql["graph_scc"] = """
        WITH RECURSIVE pairs AS (
          WITH sh0 AS (
            SELECT doc_id, unnest(list_distinct(CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) >= 3 THEN list_transform(range(1, len(list_filter(string_split(text, ' '), t -> t <> '')) - 1), i -> array_to_string(list_slice(list_filter(string_split(text, ' '), t -> t <> ''), i, i + 2), ' ')) ELSE [array_to_string(list_filter(string_split(text, ' '), t -> t <> ''), ' ')] END)) AS s FROM documents
          ), dfreq AS (
            SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
          ), sh AS (
            SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfreq USING (s) WHERE df <= 16
          ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
          ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
          )
          SELECT id_a, id_b,
                 ROUND(inter / sa.n_sh::DOUBLE, 6) AS containment_a,
                 ROUND(inter / sb.n_sh::DOUBLE, 6) AS containment_b
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE GREATEST(ROUND(inter / sa.n_sh::DOUBLE, 6),
                         ROUND(inter / sb.n_sh::DOUBLE, 6)) >= 0.3
        ), g AS (
          SELECT id_a AS src, id_b AS dst FROM pairs WHERE containment_a >= 0.3
          UNION
          SELECT id_b, id_a FROM pairs WHERE containment_b >= 0.3
        ), verts AS (
          SELECT DISTINCT id FROM (
            SELECT src AS id FROM g UNION ALL SELECT dst FROM g
          )
        ), reach(a, b) AS (
          SELECT src, dst FROM g
          UNION
          SELECT r.a, g.dst FROM reach r JOIN g ON r.b = g.src
        ), mutual AS (
          SELECT r1.a AS id, MIN(r1.b) AS mn
          FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
          GROUP BY r1.a
        )
        SELECT v.id, LEAST(v.id, COALESCE(m.mn, v.id)) AS scc_id
        FROM verts v LEFT JOIN mutual m USING (id)
    """

    # PageRank: 10 unrolled power iterations (no recursive aggregation)
    pr_iters = []
    prev = "rank_0"
    for i in range(1, 11):
        pr_iters.append(
            f"""rank_{i} AS MATERIALIZED (
              SELECT v.id,
                     ((1 - 0.85) / (SELECT COUNT(*) FROM verts)
                      + 0.85 * (SELECT COALESCE(SUM(rank), 0) FROM {prev}
                                WHERE id NOT IN (SELECT id FROM outdeg))
                        / (SELECT COUNT(*) FROM verts)
                      + 0.85 * COALESCE(s.in_sum, 0)) AS rank
              FROM verts v LEFT JOIN (
                SELECT g.dst AS id, SUM(r.rank / d.out_deg) AS in_sum
                FROM g JOIN {prev} r ON g.src = r.id
                JOIN outdeg d ON g.src = d.id
                GROUP BY g.dst
              ) s ON v.id = s.id
            )"""
        )
        prev = f"rank_{i}"
    pr_body = ",\n".join(pr_iters)
    sql["graph_pagerank"] = f"""
        WITH g AS MATERIALIZED ({_ngraph}),
        verts AS MATERIALIZED (SELECT src AS id FROM g UNION SELECT dst FROM g),
        outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS out_deg FROM g GROUP BY src),
        rank_0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT COUNT(*) FROM verts) AS rank FROM verts),
        {pr_body}
        SELECT id, ROUND(rank, 6) AS pagerank FROM rank_10
    """

    # TextRank: the SAME unrolled pagerank body (pr_body references
    # tables g/verts/outdeg only) over the word co-occurrence graph
    sql["text_textrank_keywords"] = f"""
        WITH tok AS (
          SELECT doc_id, i AS pos, tk[i] AS tok
          FROM (SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '')
                         AS tk
                FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), st AS (
          SELECT tok,
                 lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
                 lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
          FROM tok
        ), e0 AS (
          SELECT tok AS x, n1 AS y FROM st WHERE n1 IS NOT NULL AND tok <> n1
          UNION ALL
          SELECT tok, n2 FROM st WHERE n2 IS NOT NULL AND tok <> n2
        ), und AS (
          SELECT DISTINCT LEAST(x, y) AS u, GREATEST(x, y) AS v FROM e0
        ), g AS MATERIALIZED (
          SELECT u AS src, v AS dst FROM und
          UNION ALL SELECT v, u FROM und
        ),
        verts AS MATERIALIZED (SELECT src AS id FROM g UNION SELECT dst FROM g),
        outdeg AS MATERIALIZED (
          SELECT src AS id, COUNT(*) AS out_deg FROM g GROUP BY src),
        rank_0 AS MATERIALIZED (
          SELECT id, 1.0 / (SELECT COUNT(*) FROM verts) AS rank FROM verts),
        {pr_body}
        SELECT word, pagerank, rank FROM (
          SELECT id AS word, ROUND(rank, 6) AS pagerank,
                 row_number() OVER (ORDER BY ROUND(rank, 6) DESC, id)::INT
                   AS rank
          FROM rank_10
        ) WHERE rank <= 15
    """

    # Personalized PageRank: same unroll, teleport + dangling mass to
    # the seed set only (uniform over seeds)
    ppr_iters = []
    prev = "rank_0"
    for i in range(1, 11):
        ppr_iters.append(
            f"""rank_{i} AS MATERIALIZED (
              SELECT v.id,
                     (CASE WHEN v.id IN (SELECT id FROM seeds) THEN
                        (1 - 0.85) / (SELECT COUNT(*) FROM seeds)
                        + 0.85 * (SELECT COALESCE(SUM(rank), 0) FROM {prev}
                                  WHERE id NOT IN (SELECT id FROM outdeg))
                          / (SELECT COUNT(*) FROM seeds)
                      ELSE 0.0 END
                      + 0.85 * COALESCE(s.in_sum, 0)) AS rank
              FROM verts v LEFT JOIN (
                SELECT g.dst AS id, SUM(r.rank / d.out_deg) AS in_sum
                FROM g JOIN {prev} r ON g.src = r.id
                JOIN outdeg d ON g.src = d.id
                GROUP BY g.dst
              ) s ON v.id = s.id
            )"""
        )
        prev = f"rank_{i}"
    ppr_body = ",\n".join(ppr_iters)
    sql["graph_personalized_pagerank"] = f"""
        WITH g AS MATERIALIZED ({_ngraph}),
        seeds AS MATERIALIZED (
          SELECT 'c' || c_custkey AS id FROM customer WHERE c_custkey < 20),
        verts AS MATERIALIZED (
          SELECT src AS id FROM g UNION SELECT dst FROM g
          UNION SELECT id FROM seeds),
        outdeg AS MATERIALIZED (
          SELECT src AS id, COUNT(*) AS out_deg FROM g GROUP BY src),
        rank_0 AS MATERIALIZED (
          SELECT v.id,
                 CASE WHEN v.id IN (SELECT id FROM seeds)
                      THEN 1.0 / (SELECT COUNT(*) FROM seeds)
                      ELSE 0.0 END AS rank
          FROM verts v),
        {ppr_body}
        SELECT id, ROUND(rank, 6) AS ppr FROM rank_10
    """

    # Sampled Brandes betweenness: the identical synchronized levels —
    # forward BFS with exact integer sigma (each level anti-joined
    # against every earlier one), then the backward dependency
    # accumulation delta_l = SUM(sigma_l/sigma_{l+1} * (1 + d_{l+1}))
    # over the edge list, rounded once at the end
    _bt_hops = 4
    bt_fwd = []
    for lv in range(1, _bt_hops + 1):
        excl = " OR ".join(
            f"EXISTS (SELECT 1 FROM l{j} v WHERE v.s = l{lv - 1}.s "
            f"AND v.id = e.b)"
            for j in range(lv)
        )
        bt_fwd.append(
            f"""l{lv} AS MATERIALIZED (
          SELECT l{lv - 1}.s, e.b AS id, SUM(l{lv - 1}.sigma)::BIGINT AS sigma
          FROM l{lv - 1} JOIN sym e ON l{lv - 1}.id = e.a
          WHERE NOT ({excl})
          GROUP BY l{lv - 1}.s, e.b
        )"""
        )
    bt_bwd = [
        f"d{_bt_hops} AS (SELECT s, id, 0.0 AS delta FROM l{_bt_hops})"
    ]
    for lv in range(_bt_hops - 1, 0, -1):
        nx = lv + 1
        bt_bwd.append(
            f"""d{lv} AS MATERIALIZED (
          SELECT c.s, c.id, COALESCE(t.v, 0.0) AS delta
          FROM l{lv} c LEFT JOIN (
            SELECT l{lv}.s, l{lv}.id,
                   SUM(l{lv}.sigma::DOUBLE / w.sigma::DOUBLE
                       * (1.0 + d.delta)) AS v
            FROM l{lv} JOIN sym e ON l{lv}.id = e.a
            JOIN l{nx} w ON w.s = l{lv}.s AND w.id = e.b
            JOIN d{nx} d ON d.s = w.s AND d.id = w.id
            GROUP BY l{lv}.s, l{lv}.id
          ) t ON t.s = c.s AND t.id = c.id
        )"""
        )
    bt_union = " UNION ALL ".join(
        f"SELECT s, id, delta FROM d{lv}" for lv in range(1, _bt_hops + 1)
    )
    sql["graph_betweenness"] = f"""
        WITH g AS MATERIALIZED ({_ngraph}),
        sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM g
            UNION ALL SELECT dst, src FROM g
          ) WHERE a <> b
        ),
        l0 AS MATERIALIZED (
          SELECT 'c' || c_custkey AS s, 'c' || c_custkey AS id,
                 1::BIGINT AS sigma
          FROM customer WHERE c_custkey < 9
        ),
        {",".join(bt_fwd)},
        {",".join(bt_bwd)}
        SELECT id, ROUND(SUM(delta), 6) AS betweenness
        FROM ({bt_union}) WHERE id <> s GROUP BY id
    """

    # The stub decode is deterministic byte arithmetic over the payload
    # length, so the mapInPandas stage is fully oracle-checkable.
    sql["mm_decode_stub"] = """
        SELECT doc_id, 'stub' AS media_type,
               octet_length(encode(text))::BIGINT AS n_bytes,
               (16 + (octet_length(encode(text)) % 64))::INT AS width,
               (16 + ((octet_length(encode(text)) // 64) % 64))::INT AS height,
               3::INT AS channels
        FROM documents
    """

    sql["mm_binary_metadata"] = """
        SELECT doc_id, octet_length(encode(text))::INT AS n_bytes,
               md5(text) AS content_digest, 'unknown' AS media_type
        FROM documents
    """

    # Real PNG round trip: the oracle recomputes the decoded pixel
    # aggregates from the generator FORMULA (w = 8 + id%9,
    # h = 8 + (id//9)%9, pixel(x,y,c) = (id*31+y*7+x*3+c*11) % 256)
    # without touching a PNG byte — a hash match proves the Spark
    # side's encode -> zlib inflate -> unfilter -> aggregate chain is
    # bit-exact.
    # Real Y4M round trip: per-frame luma aggregates from the
    # generator formula (w = 8 + (id%5)*2, h = 8 + ((id//5)%5)*2,
    # frames = 2 + id%4, Y[f](y,x) = (id*19 + f*61 + y*11 + x*7) % 256).
    sql["mm_video_frames"] = """
        WITH dims AS (
          SELECT doc_id,
                 8 + (doc_id % 5) * 2 AS w,
                 8 + ((doc_id // 5) % 5) * 2 AS h,
                 2 + doc_id % 4 AS nf
          FROM documents
        )
        SELECT d.doc_id, f.f::INT AS frame_idx,
               d.w::INT AS width, d.h::INT AS height,
               SUM((d.doc_id * 19 + f.f * 61 + y.y * 11 + x.x * 7) % 256)::BIGINT
                 AS luma_sum,
               MIN((d.doc_id * 19 + f.f * 61 + y.y * 11 + x.x * 7) % 256)::INT
                 AS luma_min,
               MAX((d.doc_id * 19 + f.f * 61 + y.y * 11 + x.x * 7) % 256)::INT
                 AS luma_max
        FROM dims d,
             range(0, 5) AS f(f),
             range(0, 16) AS y(y),
             range(0, 16) AS x(x)
        WHERE f.f < d.nf AND y.y < d.h AND x.x < d.w
        GROUP BY d.doc_id, f.f, d.w, d.h
    """


    # Per-window audio features from the same WAV sample formula:
    # windows of 64 samples, last window short (n = 64 + id % 129).
    sql["mm_audio_windows"] = """
        WITH dims AS (
          SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
        ), samp AS (
          SELECT d.doc_id, i.i,
                 (i.i // 64)::INT AS window_idx,
                 ((d.doc_id * 37 + i.i * 101) % 65536) - 32768 AS s
          FROM dims d, range(0, 193) AS i(i)
          WHERE i.i < d.n
        )
        SELECT doc_id, window_idx,
               COUNT(*)::INT AS n_samples,
               SUM(s)::BIGINT AS sample_sum,
               SUM(s * s)::BIGINT AS energy,
               MAX(abs(s))::INT AS peak_abs
        FROM samp
        GROUP BY doc_id, window_idx
    """

    # Real WAV round trip: the oracle recomputes the decoded features
    # from the sample FORMULA (n = 64 + id%129, rate 16000,
    # sample[i] = ((id*37 + i*101) % 65536) - 32768) without touching
    # a RIFF byte.
    sql["mm_audio_features"] = """
        WITH dims AS (
          SELECT doc_id, 64 + doc_id % 129 AS n FROM documents
        )
        SELECT d.doc_id, 'wav' AS media_type,
               16000 AS sample_rate, 1 AS n_channels,
               d.n::BIGINT AS n_samples,
               (d.n * 1000 // 16000)::BIGINT AS duration_ms,
               MAX(((d.doc_id * 37 + i.i * 101) % 65536) - 32768)::INT AS peak,
               MIN(((d.doc_id * 37 + i.i * 101) % 65536) - 32768)::INT AS trough,
               SUM(((d.doc_id * 37 + i.i * 101) % 65536) - 32768)::BIGINT
                 AS sample_sum
        FROM dims d, range(0, 193) AS i(i)
        WHERE i.i < d.n
        GROUP BY d.doc_id, d.n
    """

    sql["mm_decode_real"] = """
        WITH dims AS (
          SELECT doc_id,
                 8 + doc_id % 9 AS w,
                 8 + (doc_id // 9) % 9 AS h
          FROM documents
        )
        SELECT d.doc_id, 'png' AS media_type,
               d.w::INT AS width, d.h::INT AS height, 3 AS channels,
               SUM((d.doc_id * 31 + y.y * 7 + x.x * 3 + c.c * 11) % 256)::BIGINT
                 AS pixel_sum,
               (d.w * d.h * 3)::BIGINT AS n_pixels
        FROM dims d,
             range(0, 16) AS y(y),
             range(0, 16) AS x(x),
             range(0, 3) AS c(c)
        WHERE y.y < d.h AND x.x < d.w
        GROUP BY d.doc_id, d.w, d.h
    """

    # --- corpus-quality family (operators/quality.py) ---

    # Sorted-run formulation mirrors the Spark side exactly (same run
    # ORDER feeding the entropy float sum; 0 - Σ matches the fold's
    # acc-minus-term accumulation so no -0.0 divergence).
    sql["quality_repetition_stats"] = f"""
        WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        t AS (SELECT doc_id, {_TOKS} AS toks FROM d0),
        s AS (
          SELECT doc_id, toks, len(toks) AS n, list_sort(toks) AS ls FROM t
        ), r AS (
          SELECT doc_id, toks, n,
                 list_filter(range(1, n + 1),
                   i -> i = 1 OR ls[i] <> ls[i - 1]) AS starts
          FROM s
        ), m AS (
          SELECT doc_id, toks, n, starts,
                 list_transform(range(1, len(starts) + 1),
                   j -> (CASE WHEN j < len(starts) THEN starts[j + 1]
                         ELSE n + 1 END) - starts[j]) AS runs
          FROM r
        )
        SELECT doc_id, n::INT AS n_tokens,
               ROUND(CASE WHEN n > 0 THEN 1.0 - len(starts) / n ELSE 0.0 END, 6) AS dup_word_frac,
               ROUND(CASE WHEN n > 0 THEN list_max(runs) / n ELSE 0.0 END, 6) AS top_word_frac,
               ROUND(CASE WHEN n > 1 THEN len(list_filter(range(1, n),
                     i -> toks[i] = toks[i + 1])) / (n - 1) ELSE 0.0 END, 6) AS adjacent_repeat_frac,
               ROUND(CASE WHEN n > 0 THEN 0 - list_sum(list_transform(runs,
                     l -> (l / n) * ln(l / n))) ELSE 0.0 END, 6) AS token_entropy
        FROM m
    """

    sql["quality_hash_sample"] = """
        SELECT doc_id, lang, source FROM documents
        WHERE (('0x' || substr(md5('sample' || doc_id::VARCHAR), 1, 14))::BIGINT % 1000)
              < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'fr' THEN 1000 ELSE 200 END
    """

    sql["quality_source_quota"] = """
        WITH ranked AS (
          SELECT doc_id, lang, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY (('0x' || substr(md5('quota' || doc_id::VARCHAR), 1, 14))::BIGINT
                             % 1000000) ASC,
                            doc_id ASC
                 ) AS quota_rank
          FROM documents
        )
        SELECT doc_id, lang, source, quota_rank FROM ranked WHERE quota_rank <= 10
    """

    sql["quality_boilerplate_ngrams"] = f"""
        WITH g AS (SELECT doc_id, unnest({_shingles(n=5)}) AS gram FROM documents)
        SELECT gram, COUNT(*)::BIGINT AS df FROM g GROUP BY gram
        HAVING COUNT(*) >= 3
    """

    _email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _url_re = r"https?://[^\s]+"
    sql["quality_scrub_contact"] = f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   text || ' contact user' || doc_id::VARCHAR ||
                   '@example.com or https://ex.com/' || doc_id::VARCHAR
                 ELSE text END AS text
          FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{_email_re}'))::INT AS n_emails,
               len(regexp_extract_all(text, '{_url_re}'))::INT AS n_urls,
               md5(regexp_replace(regexp_replace(text, '{_email_re}', '<EMAIL>', 'g'),
                                  '{_url_re}', '<URL>', 'g')) AS scrub_fp
        FROM planted
    """

    # batch twin of streaming_quality_gate: plant → scrub counts →
    # repetition stats over the PLANTED (pre-scrub) text, exactly as
    # the operator chains them, then the three admission gates. The
    # dup_word_frac gate compares the ROUNDED value (the operator
    # filters on its round-6 output column).
    sql["quality_gate"] = f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN
                   text || ' contact user' || doc_id::VARCHAR ||
                   '@example.com or https://ex.com/' || doc_id::VARCHAR
                 ELSE text END AS text
          FROM documents
        ), scrubbed AS (
          SELECT doc_id, text,
                 len(regexp_extract_all(text, '{_email_re}'))::INT AS n_emails,
                 len(regexp_extract_all(text, '{_url_re}'))::INT AS n_urls,
                 regexp_replace(regexp_replace(text, '{_email_re}', '<EMAIL>', 'g'),
                                '{_url_re}', '<URL>', 'g') AS scrubbed
          FROM planted
        ), t AS (
          SELECT doc_id, n_emails, n_urls, scrubbed,
                 list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS toks
          FROM scrubbed
        ), s AS (
          SELECT *, len(toks) AS n, list_sort(toks) AS ls FROM t
        ), r AS (
          SELECT *, list_filter(range(1, n + 1),
                   i -> i = 1 OR ls[i] <> ls[i - 1]) AS starts
          FROM s
        ), m AS (
          SELECT *, list_transform(range(1, len(starts) + 1),
                   j -> (CASE WHEN j < len(starts) THEN starts[j + 1]
                         ELSE n + 1 END) - starts[j]) AS runs
          FROM r
        ), stats AS (
          SELECT doc_id, n::INT AS n_tokens,
                 ROUND(CASE WHEN n > 0 THEN 1.0 - len(starts) / n ELSE 0.0 END, 6) AS dup_word_frac,
                 ROUND(CASE WHEN n > 0 THEN 0 - list_sum(list_transform(runs,
                       l -> (l / n) * ln(l / n))) ELSE 0.0 END, 6) AS token_entropy,
                 n_emails, n_urls, md5(scrubbed) AS scrubbed_fp
          FROM m
        )
        SELECT * FROM stats
        WHERE n_tokens >= 10 AND dup_word_frac <= 0.5 AND n_emails + n_urls <= 1
    """

    sql["quality_tfidf_top_terms"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
          FROM documents
        ), per_doc AS (
          SELECT doc_id, unnest(list_distinct(toks)) AS term, toks FROM t
        ), tf AS (
          SELECT doc_id, term, len(list_filter(toks, x -> x = term)) AS tf FROM per_doc
        ), dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT doc_id, term, tf, df,
                 ROUND(tf * ln((SELECT COUNT(*) FROM documents) / df), 6) AS tfidf
          FROM tf JOIN dfreq USING (term)
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored
        )
        SELECT doc_id, term, tf::INT AS tf, df::BIGINT AS df, tfidf, rank::INT AS rank
        FROM ranked WHERE rank <= 3
    """

    sql["quality_contamination"] = f"""
        WITH bench AS (
          SELECT DISTINCT unnest({_sh}) AS sh FROM documents WHERE doc_id < 20
        ), doc_sh AS (
          SELECT doc_id, unnest({_sh}) AS sh FROM documents
        ), hits AS (
          SELECT doc_id, COUNT(*) AS n_hits
          FROM doc_sh JOIN bench USING (sh) GROUP BY doc_id
        ), sizes AS (
          SELECT doc_id, len({_sh})::INT AS n_shingles FROM documents
        )
        SELECT s.doc_id, n_shingles, COALESCE(n_hits, 0) AS n_hits,
               ROUND(CASE WHEN n_shingles > 0
                          THEN COALESCE(n_hits, 0) / n_shingles
                          ELSE 0.0 END, 6) AS contamination_frac
        FROM sizes s LEFT JOIN hits USING (doc_id)
    """

    sql["quality_pack_sequences"] = f"""
        WITH t AS (
          SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 14))::BIGINT % 8 AS shard,
                 len({_TOKS})::INT AS n_tokens
          FROM documents
        ), c AS (
          SELECT *, COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
          FROM t
        )
        SELECT doc_id, shard, n_tokens,
               (shard * 1000000000 + cum_excl // 512)::BIGINT AS bin_id
        FROM c
    """

    # Packing dividend (round 17, post-freeze): same H56 shard and
    # whitespace tokens as pack_sequences, token_cost_audit's
    # isolated-padding policy per doc (empty docs cost one all-pad
    # sequence), the concat-split tail pad per shard, one double
    # division rounded to 6.
    sql["quality_packing_dividend"] = f"""
        WITH t AS (
          SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 14))::BIGINT % 8
                   AS shard,
                 GREATEST(COALESCE(len({_TOKS}), 0), 0)::BIGINT AS n
          FROM documents
        ), p AS (
          SELECT shard, n,
                 GREATEST((n + 63) // 64, 1) * 64 - n AS iso_pad
          FROM t
        ), a AS (
          SELECT shard, COUNT(*)::BIGINT AS n_docs,
                 SUM(n)::BIGINT AS total_tokens,
                 SUM(iso_pad)::BIGINT AS isolated_pad
          FROM p GROUP BY shard
        )
        SELECT shard, n_docs, total_tokens, isolated_pad,
               (((total_tokens + 63) // 64) * 64 - total_tokens)::BIGINT
                 AS packed_pad,
               (isolated_pad
                - (((total_tokens + 63) // 64) * 64 - total_tokens))::BIGINT
                 AS dividend,
               ROUND((isolated_pad
                      - (((total_tokens + 63) // 64) * 64
                         - total_tokens))::DOUBLE
                     / (total_tokens + isolated_pad)::DOUBLE, 6)
                 AS dividend_ratio
        FROM a
    """

    # stride 48 = chunk 64 − overlap 16; DuckDB range(0, n, 48)
    # excludes n, matching Spark sequence(0, n−1, 48); list_slice is
    # 1-based inclusive, matching slice(toks, start+1, 64)
    sql["quality_chunk_documents"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        ), s AS (
          SELECT doc_id, toks, unnest(range(0, n, 48)) AS start FROM nz
        )
        SELECT doc_id,
               (start // 48)::BIGINT AS chunk_id,
               len(list_slice(toks, start + 1, start + 64))::INT AS n_tokens,
               array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text
        FROM s
    """

    # Sub-document passage dedup: 32-token non-overlapping windows,
    # corpus-wide first occurrence per passage hash survives, docs
    # reassembled from surviving passages in position order.
    sql["dedup_passages"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        ), chunks AS (
          SELECT doc_id, (start // 32)::BIGINT AS chunk_id,
                 array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
          FROM (SELECT doc_id, toks, unnest(range(0, n, 32)) AS start FROM nz)
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rn
          FROM chunks
        )
        SELECT doc_id,
               COUNT(*)::BIGINT AS n_passages,
               SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
               array_to_string(
                 list_transform(
                   list_sort(list({{'chunk_id': chunk_id, 'chunk_text': chunk_text}})
                             FILTER (rn = 1)),
                   x -> x.chunk_text),
                 ' ') AS text_kept
        FROM ranked GROUP BY doc_id
    """

    # Duplicate-span scrub: overlapping 8-gram position hashes, global
    # first occurrence per hash (doc_id, pos order) survives, covered
    # token ranges removed; n_dup_spans counts MERGED intervals
    # (covered position whose predecessor is uncovered). coalesce('')
    # because DuckDB array_to_string(empty) is NULL, Spark's is ''.
    sql["dedup_span_scrub"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKS} AS tk, len({_TOKS}) AS n FROM documents
        ), grams AS (
          SELECT doc_id, i AS pos,
                 md5(array_to_string(list_slice(tk, i+1, i+8), ' ')) AS h
          FROM base, unnest(range(0, n - 8 + 1)) AS t(i)
          WHERE n >= 8
        ), ranked AS (
          SELECT doc_id, pos, row_number() OVER (
            PARTITION BY h ORDER BY doc_id, pos) AS rn
          FROM grams
        ), rem AS (
          SELECT doc_id, list_sort(list(pos)) AS starts
          FROM ranked WHERE rn > 1 GROUP BY doc_id
        ), cvt AS (
          SELECT b.doc_id, b.tk, b.n,
            list_transform(range(1, b.n+1), i ->
              len(list_filter(coalesce(r.starts, CAST([] AS BIGINT[])),
                              s -> i-1 >= s AND i-1 < s + 8)) > 0) AS cv
          FROM base b LEFT JOIN rem r USING (doc_id)
        )
        SELECT doc_id, n AS n_tokens,
          CAST(len(list_filter(cv, c -> c)) AS BIGINT) AS n_removed,
          CAST(len(list_filter(range(1, n+1),
               i -> cv[i] AND (i = 1 OR NOT cv[i-1]))) AS BIGINT) AS n_dup_spans,
          coalesce(array_to_string(list_transform(
            list_filter(range(1, n+1), i -> NOT cv[i]), i -> tk[i]), ' '), '')
            AS text_clean
        FROM cvt
    """

    # Mixture sampling: per-source sqrt-temperature weights (6-dp
    # rounded, DECIMAL-summed total, one rounded double division),
    # integer token budget, floor'd ppm rate, H56 membership — every
    # step an exactly-reproducible operation, so the sampled SET (not
    # just its size) matches bit-for-bit.
    # Epoch/repeat audit (round 17, post-freeze): the mixture weight
    # chain (sqrt at tau=0.5, round-9 share), requested = ONE double
    # product floored, epochs = one round-6 double division, cap
    # compare on the rounded epochs, shortfall via LEAST/floor.
    sql["quality_epoch_repeat_audit"] = f"""
        WITH per AS (
          SELECT source, COUNT(*)::BIGINT AS n_docs,
                 SUM(len({_TOKS}))::BIGINT AS n_tokens
          FROM documents GROUP BY source
        ), w AS (
          SELECT source, n_docs, n_tokens,
                 ROUND(sqrt(n_tokens::DOUBLE), 6)::DECIMAL(18,6) AS w6
          FROM per
        ), tot AS (SELECT SUM(w6) AS wtot FROM w),
        base AS (
          SELECT source, n_docs, n_tokens,
                 ROUND(w6::DOUBLE / wtot::DOUBLE, 9) AS weight,
                 FLOOR(ROUND(w6::DOUBLE / wtot::DOUBLE, 9)
                       * 110000.0)::BIGINT AS requested_tokens
          FROM w CROSS JOIN tot
        )
        SELECT source, n_docs, n_tokens, weight, requested_tokens,
               CASE WHEN n_tokens > 0
                    THEN ROUND(requested_tokens::DOUBLE
                               / n_tokens::DOUBLE, 6) END AS epochs,
               (requested_tokens
                > FLOOR(4.0 * n_tokens::DOUBLE)::BIGINT) AS over_cap,
               (requested_tokens
                - LEAST(requested_tokens,
                        FLOOR(4.0 * n_tokens::DOUBLE)::BIGINT))::BIGINT
                 AS shortfall_tokens
        FROM base
    """

    sql["quality_mixture_sample"] = f"""
        WITH per AS (
          SELECT source, COUNT(*)::BIGINT AS n_docs,
                 SUM(len({_TOKS}))::BIGINT AS n_tokens
          FROM documents GROUP BY source
        ), w AS (
          SELECT source, n_docs, n_tokens,
                 ROUND(sqrt(n_tokens::DOUBLE), 6)::DECIMAL(18,6) AS w6
          FROM per
        ), tot AS (
          SELECT SUM(w6) AS wtot, SUM(n_tokens)::BIGINT AS total_tokens FROM w
        ), rates AS (
          SELECT source, n_tokens,
                 ROUND(w6::DOUBLE / wtot::DOUBLE, 9) AS weight,
                 LEAST(1000000,
                   FLOOR(ROUND(w6::DOUBLE / wtot::DOUBLE, 9)
                         * ((total_tokens * 300 // 1000)::BIGINT)::DOUBLE
                         / n_tokens::DOUBLE * 1e6))::BIGINT AS rate_ppm
          FROM w CROSS JOIN tot
        ), sampled AS (
          SELECT d.source, r.weight, r.rate_ppm,
                 len({_TOKS}) AS doc_tokens
          FROM documents d JOIN rates r USING (source)
          WHERE ('0x' || substr(md5('mixture' || d.doc_id::VARCHAR), 1, 14))::BIGINT
                % 1000000 < r.rate_ppm
        )
        SELECT source, weight, rate_ppm,
               COUNT(*)::BIGINT AS n_sampled,
               SUM(doc_tokens)::BIGINT AS sampled_tokens
        FROM sampled GROUP BY source, weight, rate_ppm
    """

    # BPE merge learning: 3 unrolled rounds. chr(31) is the symbol
    # separator (BPE_SEP); the merge is ONE left-to-right literal
    # replace per round — the documented run-seam contract, identical
    # in both engines.
    bpe_rounds = []
    bpe_sel = []
    prev = "s0"
    for r in (1, 2, 3):
        bpe_rounds.append(f"""p{r} AS (
          SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt)::BIGINT AS pair_count
          FROM (SELECT list_filter(string_split(w, chr(31)), s -> s <> '') AS syms,
                       cnt
                FROM {prev}),
               unnest(range(1, len(syms))) AS t(i)
          GROUP BY a, b
        ), m{r} AS MATERIALIZED (
          SELECT a, b, pair_count FROM p{r} ORDER BY pair_count DESC, a, b LIMIT 1
        ), s{r} AS MATERIALIZED (
          SELECT replace(w, chr(31)||m{r}.a||chr(31)||m{r}.b||chr(31),
                            chr(31)||m{r}.a||m{r}.b||chr(31)) AS w, cnt
          FROM {prev}, m{r}
        )""")
        bpe_sel.append(
            f"SELECT {r} AS round, a AS merge_a, b AS merge_b, pair_count FROM m{r}"
        )
        prev = f"s{r}"
    sql["text_bpe_merges"] = f"""
        WITH words AS (
          SELECT word, COUNT(*)::BIGINT AS cnt FROM (
            SELECT unnest({_TOKS.replace("text", "lower(text)")}) AS word
            FROM documents
          ) GROUP BY word
        ), s0 AS MATERIALIZED (
          SELECT chr(31) || array_to_string(string_split(word, ''), chr(31)) || chr(31) AS w,
                 cnt
          FROM words
        ),
        {','.join(bpe_rounds)}
        {' UNION ALL '.join(bpe_sel)}
    """

    # BPE encode: the SAME learned-rule chain (m1..m3), then each
    # document's word stream is wrapped, merged in round order, and
    # reassembled in word order (string_agg ORDER BY pos).
    sql["text_bpe_encode"] = f"""
        WITH words AS (
          SELECT word, COUNT(*)::BIGINT AS cnt FROM (
            SELECT unnest({_TOKS.replace("text", "lower(text)")}) AS word
            FROM documents
          ) GROUP BY word
        ), s0 AS MATERIALIZED (
          SELECT chr(31) || array_to_string(string_split(word, ''), chr(31)) || chr(31) AS w,
                 cnt
          FROM words
        ),
        {','.join(bpe_rounds)},
        docw AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS word
          FROM (SELECT doc_id, {_TOKS.replace("text", "lower(text)")} AS tk FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), e0 AS (
          SELECT doc_id, pos,
                 chr(31) || array_to_string(string_split(word, ''), chr(31)) || chr(31) AS w
          FROM docw
        ), e1 AS (
          SELECT doc_id, pos, replace(w, chr(31)||m1.a||chr(31)||m1.b||chr(31),
                                         chr(31)||m1.a||m1.b||chr(31)) AS w
          FROM e0, m1
        ), e2 AS (
          SELECT doc_id, pos, replace(w, chr(31)||m2.a||chr(31)||m2.b||chr(31),
                                         chr(31)||m2.a||m2.b||chr(31)) AS w
          FROM e1, m2
        ), e3 AS (
          SELECT doc_id, pos, replace(w, chr(31)||m3.a||chr(31)||m3.b||chr(31),
                                         chr(31)||m3.a||m3.b||chr(31)) AS w
          FROM e2, m3
        ), symsd AS (
          SELECT doc_id, pos,
                 list_filter(string_split(w, chr(31)), s -> s <> '') AS syms
          FROM e3
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_words,
               SUM(len(syms))::BIGINT AS n_symbols,
               md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS encoded_fp
        FROM symsd GROUP BY doc_id
    """

    # Tokenizer-aware sequence-cost audit (round 17): the same
    # learned-BPE encode chain reduced to per-doc symbol counts, then
    # the exact integer ceil-div accounting at a 128-token context —
    # sequences when split, truncate-to-one loss, doc-isolated
    # padding waste (pad_ratio as one double division rounded to 6).
    sql["quality_token_cost_audit"] = f"""
        WITH words AS (
          SELECT word, COUNT(*)::BIGINT AS cnt FROM (
            SELECT unnest({_TOKS.replace("text", "lower(text)")}) AS word
            FROM documents
          ) GROUP BY word
        ), s0 AS MATERIALIZED (
          SELECT chr(31) || array_to_string(string_split(word, ''), chr(31)) || chr(31) AS w,
                 cnt
          FROM words
        ),
        {','.join(bpe_rounds)},
        docw AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS word
          FROM (SELECT doc_id, {_TOKS.replace("text", "lower(text)")} AS tk FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), e0 AS (
          SELECT doc_id, pos,
                 chr(31) || array_to_string(string_split(word, ''), chr(31)) || chr(31) AS w
          FROM docw
        ), e1 AS (
          SELECT doc_id, pos, replace(w, chr(31)||m1.a||chr(31)||m1.b||chr(31),
                                         chr(31)||m1.a||m1.b||chr(31)) AS w
          FROM e0, m1
        ), e2 AS (
          SELECT doc_id, pos, replace(w, chr(31)||m2.a||chr(31)||m2.b||chr(31),
                                         chr(31)||m2.a||m2.b||chr(31)) AS w
          FROM e1, m2
        ), e3 AS (
          SELECT doc_id, pos, replace(w, chr(31)||m3.a||chr(31)||m3.b||chr(31),
                                         chr(31)||m3.a||m3.b||chr(31)) AS w
          FROM e2, m3
        ), symsd AS (
          SELECT doc_id, pos,
                 list_filter(string_split(w, chr(31)), s -> s <> '') AS syms
          FROM e3
        ), enc AS (
          SELECT doc_id, SUM(len(syms))::BIGINT AS n_tokens
          FROM symsd GROUP BY doc_id
        ), acc AS (
          SELECT doc_id, n_tokens,
                 GREATEST((n_tokens + 127) // 128, 1)::BIGINT AS n_sequences
          FROM enc
        )
        SELECT doc_id, n_tokens, n_sequences,
               (n_tokens > 128) AS truncated,
               GREATEST(n_tokens - 128, 0)::BIGINT AS trunc_loss,
               (n_sequences * 128 - n_tokens)::BIGINT AS pad_tokens,
               ROUND((n_sequences * 128 - n_tokens)::DOUBLE
                     / (n_sequences * 128)::DOUBLE, 6) AS pad_ratio
        FROM acc
    """

    # JL random projection: plane components are embedded as the SAME
    # Python-repr literals the Spark side parses (BIGINT/DOUBLE division
    # in-SQL would round the 56-bit hash to 53 bits BEFORE dividing -
    # a 1-ulp divergence risk the literal embedding removes).
    sql["sim_random_projection"] = """
        WITH planes(k, pk) AS (VALUES
          (0, [CAST('0.2930236946467757' AS DOUBLE), CAST('0.23930063120365963' AS DOUBLE), CAST('0.9243615795147213' AS DOUBLE), CAST('-0.3164870869874066' AS DOUBLE), CAST('-0.7628106141111879' AS DOUBLE), CAST('0.2608767340679081' AS DOUBLE), CAST('0.14648764513931756' AS DOUBLE), CAST('-0.06041172394004135' AS DOUBLE), CAST('-0.19400232193884925' AS DOUBLE), CAST('0.8604371292475848' AS DOUBLE), CAST('0.06328428373388162' AS DOUBLE), CAST('-0.8051113962884263' AS DOUBLE), CAST('0.3202304534268894' AS DOUBLE), CAST('0.06634525212016129' AS DOUBLE), CAST('0.11719754316466169' AS DOUBLE), CAST('-0.21343300721014213' AS DOUBLE), CAST('-0.9015618784768461' AS DOUBLE), CAST('-0.8009463405007042' AS DOUBLE), CAST('-0.061499248318588995' AS DOUBLE), CAST('-0.33207689716266775' AS DOUBLE), CAST('-0.5382481792788976' AS DOUBLE), CAST('0.880381484723753' AS DOUBLE), CAST('-0.6310842378503634' AS DOUBLE), CAST('-0.9752724115353627' AS DOUBLE), CAST('-0.19679381294985676' AS DOUBLE), CAST('0.3687818297984742' AS DOUBLE), CAST('0.9799466416460938' AS DOUBLE), CAST('0.5541994016546816' AS DOUBLE), CAST('-0.927163502201665' AS DOUBLE), CAST('-0.6002296522986297' AS DOUBLE), CAST('-0.38746911917640847' AS DOUBLE), CAST('0.7523951697169875' AS DOUBLE), CAST('0.3761298517736187' AS DOUBLE), CAST('0.8832424348439745' AS DOUBLE), CAST('-0.052612590268427795' AS DOUBLE), CAST('0.19599123218391856' AS DOUBLE), CAST('-0.06544779881117702' AS DOUBLE), CAST('0.5674963732219662' AS DOUBLE), CAST('-0.08476431227445735' AS DOUBLE), CAST('-0.006638054069759147' AS DOUBLE), CAST('0.741016201762454' AS DOUBLE), CAST('-0.21215692963182542' AS DOUBLE), CAST('0.1380847197827495' AS DOUBLE), CAST('-0.7788678458497256' AS DOUBLE), CAST('-0.6487744126214745' AS DOUBLE), CAST('-0.44872886499964193' AS DOUBLE), CAST('0.4757818215362133' AS DOUBLE), CAST('-0.9395520361915164' AS DOUBLE), CAST('-0.7952771169059414' AS DOUBLE), CAST('-0.004025701931116843' AS DOUBLE), CAST('-0.26506089252642107' AS DOUBLE), CAST('-0.389143142370286' AS DOUBLE), CAST('-0.14318914994549625' AS DOUBLE), CAST('0.7232645791473415' AS DOUBLE), CAST('0.7098791351954796' AS DOUBLE), CAST('-0.6782586890657645' AS DOUBLE), CAST('-0.6206533474135378' AS DOUBLE), CAST('-0.034872277332422597' AS DOUBLE), CAST('0.5503836310667622' AS DOUBLE), CAST('-0.48754565465315747' AS DOUBLE), CAST('-0.6611641085477631' AS DOUBLE), CAST('0.23210181123584084' AS DOUBLE), CAST('0.9093812487027757' AS DOUBLE), CAST('0.11589868326316788' AS DOUBLE)]),
          (1, [CAST('0.184934078349972' AS DOUBLE), CAST('-0.279717454882381' AS DOUBLE), CAST('-0.3861549288272442' AS DOUBLE), CAST('0.6979655393142512' AS DOUBLE), CAST('0.8537637105621612' AS DOUBLE), CAST('0.30279283365487486' AS DOUBLE), CAST('0.5294649937083804' AS DOUBLE), CAST('-0.34910242403045755' AS DOUBLE), CAST('0.6772065058833279' AS DOUBLE), CAST('0.46464867867512094' AS DOUBLE), CAST('0.6377165927237556' AS DOUBLE), CAST('-0.2408594626080679' AS DOUBLE), CAST('0.8065917689665782' AS DOUBLE), CAST('0.7065640103275217' AS DOUBLE), CAST('-0.5356126766274287' AS DOUBLE), CAST('-0.260612011329153' AS DOUBLE), CAST('0.44882835121178943' AS DOUBLE), CAST('-0.8515156786635822' AS DOUBLE), CAST('0.7323440930124232' AS DOUBLE), CAST('0.8683857089334737' AS DOUBLE), CAST('0.7838595414520786' AS DOUBLE), CAST('0.5974420334427704' AS DOUBLE), CAST('0.5004181648551707' AS DOUBLE), CAST('-0.13386652524515763' AS DOUBLE), CAST('0.8049880128069191' AS DOUBLE), CAST('0.8973796327559089' AS DOUBLE), CAST('-0.25192605383713385' AS DOUBLE), CAST('0.9660960211446774' AS DOUBLE), CAST('-0.47121920070034196' AS DOUBLE), CAST('0.45500593017183233' AS DOUBLE), CAST('0.7104906171899705' AS DOUBLE), CAST('0.38238867296793044' AS DOUBLE), CAST('-0.05146910850324615' AS DOUBLE), CAST('-0.018062564170365558' AS DOUBLE), CAST('0.2557984445025323' AS DOUBLE), CAST('-0.24416217750145974' AS DOUBLE), CAST('-0.0955448427651393' AS DOUBLE), CAST('0.43811905587967503' AS DOUBLE), CAST('0.11938076786788332' AS DOUBLE), CAST('-0.01357800426436584' AS DOUBLE), CAST('0.23543850628578622' AS DOUBLE), CAST('0.7778983841719684' AS DOUBLE), CAST('-0.7861489742430149' AS DOUBLE), CAST('-0.42832366506183217' AS DOUBLE), CAST('-0.21274215002550434' AS DOUBLE), CAST('0.2860962045823283' AS DOUBLE), CAST('-0.3839389144667117' AS DOUBLE), CAST('-0.16620425442063735' AS DOUBLE), CAST('-0.24432436442092453' AS DOUBLE), CAST('0.9861214176104238' AS DOUBLE), CAST('-0.10600914128498828' AS DOUBLE), CAST('0.09056543859052257' AS DOUBLE), CAST('0.9820525740688373' AS DOUBLE), CAST('-0.5178531375289391' AS DOUBLE), CAST('-0.8408934248533315' AS DOUBLE), CAST('0.11112571199659382' AS DOUBLE), CAST('-0.05168347758602865' AS DOUBLE), CAST('-0.8760622448864439' AS DOUBLE), CAST('0.6384113512502925' AS DOUBLE), CAST('-0.9565417746306892' AS DOUBLE), CAST('-0.6895752238261937' AS DOUBLE), CAST('-0.08655667071709883' AS DOUBLE), CAST('0.6914487223164687' AS DOUBLE), CAST('0.7689423833655578' AS DOUBLE)]),
          (2, [CAST('-0.25001089877537475' AS DOUBLE), CAST('-0.12326251016250378' AS DOUBLE), CAST('-0.5678810930529886' AS DOUBLE), CAST('-0.8173071630487952' AS DOUBLE), CAST('0.8280095082170484' AS DOUBLE), CAST('-0.6176039770034114' AS DOUBLE), CAST('0.08887461852743295' AS DOUBLE), CAST('0.6039516456730532' AS DOUBLE), CAST('0.18857417637448814' AS DOUBLE), CAST('-0.7498494745370052' AS DOUBLE), CAST('0.42273958578380366' AS DOUBLE), CAST('-0.28692085114341204' AS DOUBLE), CAST('-0.7751245190671702' AS DOUBLE), CAST('0.2961012213016836' AS DOUBLE), CAST('-0.4525119883389094' AS DOUBLE), CAST('0.830743167209645' AS DOUBLE), CAST('-0.1534600288335215' AS DOUBLE), CAST('0.009445035903393295' AS DOUBLE), CAST('0.44159468965541504' AS DOUBLE), CAST('-0.5266087747539936' AS DOUBLE), CAST('0.38866732807028304' AS DOUBLE), CAST('0.028957082279080115' AS DOUBLE), CAST('-0.14006620455985097' AS DOUBLE), CAST('0.3159278102472387' AS DOUBLE), CAST('-0.10975071962253646' AS DOUBLE), CAST('-0.9035440947807554' AS DOUBLE), CAST('0.229975411287203' AS DOUBLE), CAST('-0.4904032330930286' AS DOUBLE), CAST('-0.45675518682951277' AS DOUBLE), CAST('0.8228531747594334' AS DOUBLE), CAST('-0.28807575297955124' AS DOUBLE), CAST('0.7874939134718835' AS DOUBLE), CAST('-0.047784658406353264' AS DOUBLE), CAST('0.5850862675357615' AS DOUBLE), CAST('-0.7641803022826852' AS DOUBLE), CAST('-0.6735634720040081' AS DOUBLE), CAST('0.7269118586461114' AS DOUBLE), CAST('0.12367433693641483' AS DOUBLE), CAST('-0.7578729301304603' AS DOUBLE), CAST('-0.7905209565951445' AS DOUBLE), CAST('-0.5011490831503285' AS DOUBLE), CAST('-0.3083936290144962' AS DOUBLE), CAST('-0.13190777731692016' AS DOUBLE), CAST('0.14574534280182916' AS DOUBLE), CAST('0.7086489994715621' AS DOUBLE), CAST('-0.9613033266935898' AS DOUBLE), CAST('0.004629403906230012' AS DOUBLE), CAST('-0.3772952584246314' AS DOUBLE), CAST('0.4916793203876617' AS DOUBLE), CAST('0.7725878916488651' AS DOUBLE), CAST('-0.06886127775379602' AS DOUBLE), CAST('0.939043228288251' AS DOUBLE), CAST('0.7740793592836273' AS DOUBLE), CAST('-0.4049090883234594' AS DOUBLE), CAST('-0.7503711528693239' AS DOUBLE), CAST('0.7674853004729347' AS DOUBLE), CAST('-0.3591341416769158' AS DOUBLE), CAST('0.7778684697816574' AS DOUBLE), CAST('-0.04675199945831077' AS DOUBLE), CAST('0.586519263905066' AS DOUBLE), CAST('-0.059776208238294326' AS DOUBLE), CAST('0.13626285556407924' AS DOUBLE), CAST('0.41771956313319136' AS DOUBLE), CAST('0.4915155585414843' AS DOUBLE)]),
          (3, [CAST('0.15594976099555669' AS DOUBLE), CAST('-0.8515422649528405' AS DOUBLE), CAST('0.390000884378231' AS DOUBLE), CAST('0.44082205170456046' AS DOUBLE), CAST('0.7401070692749914' AS DOUBLE), CAST('0.6016221446567509' AS DOUBLE), CAST('-0.24293348513174018' AS DOUBLE), CAST('-0.2717988821382221' AS DOUBLE), CAST('-0.749555675785035' AS DOUBLE), CAST('-0.8764001476550048' AS DOUBLE), CAST('0.3915804600031134' AS DOUBLE), CAST('-0.20089047700819296' AS DOUBLE), CAST('0.5683828996178237' AS DOUBLE), CAST('-0.2574709128247489' AS DOUBLE), CAST('-0.4338562700582549' AS DOUBLE), CAST('-0.7843362211250354' AS DOUBLE), CAST('-0.16134821286864032' AS DOUBLE), CAST('0.5523306846213665' AS DOUBLE), CAST('0.5796824407931529' AS DOUBLE), CAST('-0.8892897583208692' AS DOUBLE), CAST('-0.3531548197010078' AS DOUBLE), CAST('0.47395094069759813' AS DOUBLE), CAST('0.2520205974183789' AS DOUBLE), CAST('-0.15584819735687172' AS DOUBLE), CAST('0.5386196817771702' AS DOUBLE), CAST('0.8214066932288715' AS DOUBLE), CAST('-0.7034038696080428' AS DOUBLE), CAST('0.646369653226613' AS DOUBLE), CAST('0.5417261789611458' AS DOUBLE), CAST('0.1193983215829233' AS DOUBLE), CAST('0.606562315707301' AS DOUBLE), CAST('0.0081500784289672' AS DOUBLE), CAST('0.812477671403588' AS DOUBLE), CAST('-0.9733823045571997' AS DOUBLE), CAST('-0.13226899176051643' AS DOUBLE), CAST('-0.2502395746941165' AS DOUBLE), CAST('0.5294166013273516' AS DOUBLE), CAST('-0.1090300443601655' AS DOUBLE), CAST('-0.4005472300859896' AS DOUBLE), CAST('-0.4382297513400558' AS DOUBLE), CAST('-0.7577657932169566' AS DOUBLE), CAST('-0.04407894073284524' AS DOUBLE), CAST('-0.12086934735368327' AS DOUBLE), CAST('-0.45048883935614603' AS DOUBLE), CAST('0.5163894999031795' AS DOUBLE), CAST('0.5926618040679545' AS DOUBLE), CAST('0.7108680856945142' AS DOUBLE), CAST('0.685263785468263' AS DOUBLE), CAST('-0.936046833021904' AS DOUBLE), CAST('-0.9541137291663087' AS DOUBLE), CAST('0.6669824356219891' AS DOUBLE), CAST('0.40052844308334845' AS DOUBLE), CAST('0.339013798693085' AS DOUBLE), CAST('0.6534684810950906' AS DOUBLE), CAST('-0.7181981450471202' AS DOUBLE), CAST('0.8363825568101872' AS DOUBLE), CAST('0.5320228285647324' AS DOUBLE), CAST('-0.12122470153471665' AS DOUBLE), CAST('0.7871993618219109' AS DOUBLE), CAST('-0.5433810269959035' AS DOUBLE), CAST('0.3413809457596322' AS DOUBLE), CAST('0.223043776957224' AS DOUBLE), CAST('0.2575381706664812' AS DOUBLE), CAST('-0.5317072393181118' AS DOUBLE)]),
          (4, [CAST('0.6160494141835631' AS DOUBLE), CAST('-0.6332295111594853' AS DOUBLE), CAST('0.5134764524394879' AS DOUBLE), CAST('0.7426969445191893' AS DOUBLE), CAST('0.43245846231316687' AS DOUBLE), CAST('-0.8907755275049591' AS DOUBLE), CAST('0.7764964053895791' AS DOUBLE), CAST('0.2142177835910315' AS DOUBLE), CAST('0.13819233974907208' AS DOUBLE), CAST('-0.4100416882526291' AS DOUBLE), CAST('0.9455042214147455' AS DOUBLE), CAST('0.4126035685242031' AS DOUBLE), CAST('-0.3353800726247669' AS DOUBLE), CAST('0.8347593271806604' AS DOUBLE), CAST('0.7605027850799744' AS DOUBLE), CAST('-0.38494561740489375' AS DOUBLE), CAST('-0.5302319905399535' AS DOUBLE), CAST('-0.8714811406497845' AS DOUBLE), CAST('0.5608102010487885' AS DOUBLE), CAST('0.22152208835777665' AS DOUBLE), CAST('-0.2591012165740304' AS DOUBLE), CAST('0.4410713917471769' AS DOUBLE), CAST('-0.15265875311412658' AS DOUBLE), CAST('-0.255467797279161' AS DOUBLE), CAST('0.36350466075274834' AS DOUBLE), CAST('0.39944977574580665' AS DOUBLE), CAST('-0.8477561139946588' AS DOUBLE), CAST('-0.5132734800084353' AS DOUBLE), CAST('0.5783762835993318' AS DOUBLE), CAST('-0.2829011547522209' AS DOUBLE), CAST('0.15221248976077373' AS DOUBLE), CAST('-0.45733517370131416' AS DOUBLE), CAST('0.4453130599596522' AS DOUBLE), CAST('-0.9892937300494509' AS DOUBLE), CAST('-0.36390619695622006' AS DOUBLE), CAST('-0.5470277604095617' AS DOUBLE), CAST('0.03544551208342561' AS DOUBLE), CAST('0.3191110066170806' AS DOUBLE), CAST('-0.14371598140435604' AS DOUBLE), CAST('0.5918524161098406' AS DOUBLE), CAST('0.744477727574185' AS DOUBLE), CAST('0.9788253589654998' AS DOUBLE), CAST('-0.9005843695718743' AS DOUBLE), CAST('-0.7216950753648761' AS DOUBLE), CAST('-0.8712648472986803' AS DOUBLE), CAST('-0.1949190924410057' AS DOUBLE), CAST('0.14375196692021142' AS DOUBLE), CAST('0.8620585875806877' AS DOUBLE), CAST('0.38350423649357124' AS DOUBLE), CAST('-0.705540349875313' AS DOUBLE), CAST('-0.28011561799976126' AS DOUBLE), CAST('0.42308340323890326' AS DOUBLE), CAST('-0.5560498652722439' AS DOUBLE), CAST('-0.34603497223238366' AS DOUBLE), CAST('-0.6642500989445448' AS DOUBLE), CAST('0.11580700852532155' AS DOUBLE), CAST('0.938394406335453' AS DOUBLE), CAST('0.9226403497820128' AS DOUBLE), CAST('0.5165011619550746' AS DOUBLE), CAST('-0.6842760950737965' AS DOUBLE), CAST('0.9307632246419077' AS DOUBLE), CAST('0.59092759360507' AS DOUBLE), CAST('-0.8772129484618322' AS DOUBLE), CAST('-0.9065892218551814' AS DOUBLE)]),
          (5, [CAST('-0.9808833653094047' AS DOUBLE), CAST('-0.7375190430592959' AS DOUBLE), CAST('-0.4490877568682048' AS DOUBLE), CAST('-0.30790743362774964' AS DOUBLE), CAST('-0.923924243542666' AS DOUBLE), CAST('0.6015489664827793' AS DOUBLE), CAST('-0.707815256198903' AS DOUBLE), CAST('-0.18655124093094577' AS DOUBLE), CAST('0.4668089217628941' AS DOUBLE), CAST('0.5149296801523313' AS DOUBLE), CAST('-0.6332607677259386' AS DOUBLE), CAST('-0.11130412046830696' AS DOUBLE), CAST('0.24176021560559935' AS DOUBLE), CAST('0.09278877714247402' AS DOUBLE), CAST('-0.05012677728038972' AS DOUBLE), CAST('-0.3875455124966105' AS DOUBLE), CAST('-0.20055620214555625' AS DOUBLE), CAST('0.49587872233618824' AS DOUBLE), CAST('0.11111280532764267' AS DOUBLE), CAST('0.1269118032998373' AS DOUBLE), CAST('0.17418147367104408' AS DOUBLE), CAST('-0.04202902800987185' AS DOUBLE), CAST('0.5118214279587676' AS DOUBLE), CAST('0.4173333454776058' AS DOUBLE), CAST('0.09670352006588279' AS DOUBLE), CAST('0.39513473787569486' AS DOUBLE), CAST('-0.18771717910422536' AS DOUBLE), CAST('0.7836669948944215' AS DOUBLE), CAST('0.45147433104183277' AS DOUBLE), CAST('-0.6649385480200399' AS DOUBLE), CAST('-0.5473743753709948' AS DOUBLE), CAST('0.10794871881390034' AS DOUBLE), CAST('-0.621802023948789' AS DOUBLE), CAST('0.9761783029632527' AS DOUBLE), CAST('0.04679067779369772' AS DOUBLE), CAST('-0.068793276613059' AS DOUBLE), CAST('-0.03650929681445203' AS DOUBLE), CAST('-0.24082608350759704' AS DOUBLE), CAST('-0.3883847355000327' AS DOUBLE), CAST('-0.7746224828786765' AS DOUBLE), CAST('-0.3662325158386609' AS DOUBLE), CAST('-0.6303652898683857' AS DOUBLE), CAST('-0.9577693556107628' AS DOUBLE), CAST('-0.24036601919333855' AS DOUBLE), CAST('0.27797203310084817' AS DOUBLE), CAST('-0.5647327556152646' AS DOUBLE), CAST('-0.34291403187351155' AS DOUBLE), CAST('-0.7868329253466487' AS DOUBLE), CAST('0.6274132773988221' AS DOUBLE), CAST('-0.08418482120800719' AS DOUBLE), CAST('-0.29243439876999333' AS DOUBLE), CAST('0.28660611508276124' AS DOUBLE), CAST('0.1191341041907954' AS DOUBLE), CAST('0.38559743934689306' AS DOUBLE), CAST('-0.21789688146844155' AS DOUBLE), CAST('0.3872529500642048' AS DOUBLE), CAST('0.7394499523235902' AS DOUBLE), CAST('-0.694964288315413' AS DOUBLE), CAST('-0.053408962621680156' AS DOUBLE), CAST('0.5547066758927903' AS DOUBLE), CAST('-0.9470272898237444' AS DOUBLE), CAST('0.43879190104203514' AS DOUBLE), CAST('0.4419824890414321' AS DOUBLE), CAST('-0.29877287759124593' AS DOUBLE)]),
          (6, [CAST('-0.977407191816175' AS DOUBLE), CAST('-0.040613685089090135' AS DOUBLE), CAST('0.22331527373021332' AS DOUBLE), CAST('-0.6734179945219397' AS DOUBLE), CAST('0.4216303851417029' AS DOUBLE), CAST('-0.39139341087672574' AS DOUBLE), CAST('0.7857616628215602' AS DOUBLE), CAST('0.2633829516135917' AS DOUBLE), CAST('-0.008287472890228353' AS DOUBLE), CAST('-0.22710998212692746' AS DOUBLE), CAST('-0.9249111940819587' AS DOUBLE), CAST('-0.4877241776943628' AS DOUBLE), CAST('-0.2527852743700375' AS DOUBLE), CAST('-0.8807667235705332' AS DOUBLE), CAST('-0.6894817805596272' AS DOUBLE), CAST('0.21669878233908269' AS DOUBLE), CAST('0.25745785916026875' AS DOUBLE), CAST('0.7574417076530535' AS DOUBLE), CAST('0.9676944935957563' AS DOUBLE), CAST('-0.2778970250702877' AS DOUBLE), CAST('0.9168765159020642' AS DOUBLE), CAST('-0.6731484283173662' AS DOUBLE), CAST('0.9643015557277859' AS DOUBLE), CAST('-0.4168921296621536' AS DOUBLE), CAST('-0.4206394789639796' AS DOUBLE), CAST('-0.9665842663336113' AS DOUBLE), CAST('-0.3530035953903474' AS DOUBLE), CAST('-0.5478103478398058' AS DOUBLE), CAST('0.4850802031549697' AS DOUBLE), CAST('-0.4682817551932883' AS DOUBLE), CAST('-0.6110509261159113' AS DOUBLE), CAST('-0.730318403641464' AS DOUBLE), CAST('0.8894131311870122' AS DOUBLE), CAST('0.5803394162828495' AS DOUBLE), CAST('-0.4664590337427347' AS DOUBLE), CAST('-0.029747659178674946' AS DOUBLE), CAST('-0.5976928095783186' AS DOUBLE), CAST('-0.09045503733343307' AS DOUBLE), CAST('0.5981655768170291' AS DOUBLE), CAST('0.2530477562999618' AS DOUBLE), CAST('0.3649512106569168' AS DOUBLE), CAST('0.5783908671242395' AS DOUBLE), CAST('-0.05178673648351595' AS DOUBLE), CAST('-0.661525818512676' AS DOUBLE), CAST('0.006011616980480472' AS DOUBLE), CAST('0.5864823500125578' AS DOUBLE), CAST('0.31333517217234474' AS DOUBLE), CAST('-0.8770453604069625' AS DOUBLE), CAST('-0.4390186817987175' AS DOUBLE), CAST('0.9636187052947107' AS DOUBLE), CAST('0.43603371089945653' AS DOUBLE), CAST('0.26501398711576973' AS DOUBLE), CAST('0.20646779466930942' AS DOUBLE), CAST('0.18263703010931343' AS DOUBLE), CAST('-0.08756350130479018' AS DOUBLE), CAST('-0.9161882337677055' AS DOUBLE), CAST('0.272328815804294' AS DOUBLE), CAST('0.22097932778456775' AS DOUBLE), CAST('-0.3818247277901884' AS DOUBLE), CAST('0.007005108052217324' AS DOUBLE), CAST('-0.551374300154603' AS DOUBLE), CAST('-0.755989297464407' AS DOUBLE), CAST('0.3963150703899849' AS DOUBLE), CAST('-0.8100403016456288' AS DOUBLE)]),
          (7, [CAST('0.9017382627791288' AS DOUBLE), CAST('0.8997600885133465' AS DOUBLE), CAST('0.7079703149249079' AS DOUBLE), CAST('-0.6371490526667865' AS DOUBLE), CAST('0.193580343898081' AS DOUBLE), CAST('0.03005166047356389' AS DOUBLE), CAST('-0.7361082963120256' AS DOUBLE), CAST('-0.9754891012159979' AS DOUBLE), CAST('0.20273385649427467' AS DOUBLE), CAST('-0.9828240770304858' AS DOUBLE), CAST('-0.441305358996684' AS DOUBLE), CAST('0.9944433937385244' AS DOUBLE), CAST('0.34467357941006815' AS DOUBLE), CAST('0.9402754662733441' AS DOUBLE), CAST('-0.4971743978507239' AS DOUBLE), CAST('-0.16959660611198224' AS DOUBLE), CAST('0.5804045346155733' AS DOUBLE), CAST('-0.6136490133781516' AS DOUBLE), CAST('0.843822049530107' AS DOUBLE), CAST('0.9929501413853952' AS DOUBLE), CAST('-0.633072272715758' AS DOUBLE), CAST('-0.12062924609349446' AS DOUBLE), CAST('0.2510437551457956' AS DOUBLE), CAST('-0.38854464875509953' AS DOUBLE), CAST('-0.4421824480171618' AS DOUBLE), CAST('0.42098731372102804' AS DOUBLE), CAST('-0.08738572777791387' AS DOUBLE), CAST('0.36506871490481374' AS DOUBLE), CAST('-0.8394356239617031' AS DOUBLE), CAST('-0.5780985060419992' AS DOUBLE), CAST('-0.30045636749943017' AS DOUBLE), CAST('-0.7554747751099471' AS DOUBLE), CAST('0.25335575554746903' AS DOUBLE), CAST('0.45698969409524137' AS DOUBLE), CAST('-0.41450396507541387' AS DOUBLE), CAST('0.5506493654974964' AS DOUBLE), CAST('-0.44562497212535157' AS DOUBLE), CAST('-0.5880888359946159' AS DOUBLE), CAST('-0.04826056362810571' AS DOUBLE), CAST('-0.42364344379439145' AS DOUBLE), CAST('-0.03387702864446718' AS DOUBLE), CAST('-0.08974353525114831' AS DOUBLE), CAST('-0.18854266886881887' AS DOUBLE), CAST('-0.37647376638107977' AS DOUBLE), CAST('0.6535076704292295' AS DOUBLE), CAST('0.9659149145890569' AS DOUBLE), CAST('0.12948159489493416' AS DOUBLE), CAST('0.8453471272467361' AS DOUBLE), CAST('0.36301578016693004' AS DOUBLE), CAST('0.8873653370444203' AS DOUBLE), CAST('0.07426483668609474' AS DOUBLE), CAST('-0.9960209302381718' AS DOUBLE), CAST('-0.04098402193877082' AS DOUBLE), CAST('-0.6702437287463254' AS DOUBLE), CAST('0.0031859395129036905' AS DOUBLE), CAST('-0.8520594733375073' AS DOUBLE), CAST('-0.5548136666917786' AS DOUBLE), CAST('0.7160960200636519' AS DOUBLE), CAST('-0.7469147178838905' AS DOUBLE), CAST('-0.0300127656306719' AS DOUBLE), CAST('0.6872335303624659' AS DOUBLE), CAST('0.3393890372564332' AS DOUBLE), CAST('0.8563226452832926' AS DOUBLE), CAST('-0.8251125970215173' AS DOUBLE)]))
        SELECT e.vec_id, p.k,
               ROUND(list_sum(list_transform(range(1, 65),
                     j -> e.embedding[j]::DOUBLE * p.pk[j])), 6) AS proj_val
        FROM embeddings e, planes p
    """

    # BM25: same one-agg stats, same Lucene idf, same fixed-order
    # term sum; dl/avgdl cross-multiplies before the one division.
    sql["text_bm25_rank"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), sized AS (
          SELECT doc_id, toks, len(toks) AS dl FROM base
        ), stats AS (
          SELECT COUNT(*)::BIGINT AS n_docs,
                 SUM(dl)::BIGINT AS total_len,
                 SUM(CASE WHEN list_contains(toks, 'vector') THEN 1 ELSE 0 END)::BIGINT AS df0,
                 SUM(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END)::BIGINT AS df1,
                 SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)::BIGINT AS df2
          FROM sized
        ), scored AS (
          SELECT s.doc_id,
            ROUND(
              ln(1.0 + (st.n_docs::DOUBLE - df0 + 0.5) / (df0::DOUBLE + 0.5))
                * (len(list_filter(toks, x -> x = 'vector'))::DOUBLE * 2.2)
                / (len(list_filter(toks, x -> x = 'vector'))::DOUBLE
                   + 1.2 * (0.25 + 0.75 * ((s.dl::BIGINT * st.n_docs)::DOUBLE / st.total_len::DOUBLE)))
              + ln(1.0 + (st.n_docs::DOUBLE - df1 + 0.5) / (df1::DOUBLE + 0.5))
                * (len(list_filter(toks, x -> x = 'hash'))::DOUBLE * 2.2)
                / (len(list_filter(toks, x -> x = 'hash'))::DOUBLE
                   + 1.2 * (0.25 + 0.75 * ((s.dl::BIGINT * st.n_docs)::DOUBLE / st.total_len::DOUBLE)))
              + ln(1.0 + (st.n_docs::DOUBLE - df2 + 0.5) / (df2::DOUBLE + 0.5))
                * (len(list_filter(toks, x -> x = 'spark'))::DOUBLE * 2.2)
                / (len(list_filter(toks, x -> x = 'spark'))::DOUBLE
                   + 1.2 * (0.25 + 0.75 * ((s.dl::BIGINT * st.n_docs)::DOUBLE / st.total_len::DOUBLE))),
            6) AS bm25
          FROM sized s, stats st
        )
        SELECT doc_id, bm25, rank FROM (
          SELECT doc_id, bm25,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)::INT AS rank
          FROM scored WHERE bm25 > 0
        ) WHERE rank <= 20
    """

    # 4-core: 10 unrolled peel rounds (fixpoint reached in 6-7 at the
    # test scales; further rounds are no-ops on the stable core).
    sql["graph_kcore"] = """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), e0 AS MATERIALIZED (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM cop WHERE src <> dst
        ),
        v1 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0
            ) GROUP BY id
          ) WHERE d >= 4
        ), e1 AS MATERIALIZED (
          SELECT * FROM e0
          WHERE a IN (SELECT id FROM v1) AND b IN (SELECT id FROM v1)
        ),v2 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e1 UNION ALL SELECT b AS id FROM e1
            ) GROUP BY id
          ) WHERE d >= 4
        ), e2 AS MATERIALIZED (
          SELECT * FROM e1
          WHERE a IN (SELECT id FROM v2) AND b IN (SELECT id FROM v2)
        ),v3 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e2 UNION ALL SELECT b AS id FROM e2
            ) GROUP BY id
          ) WHERE d >= 4
        ), e3 AS MATERIALIZED (
          SELECT * FROM e2
          WHERE a IN (SELECT id FROM v3) AND b IN (SELECT id FROM v3)
        ),v4 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e3 UNION ALL SELECT b AS id FROM e3
            ) GROUP BY id
          ) WHERE d >= 4
        ), e4 AS MATERIALIZED (
          SELECT * FROM e3
          WHERE a IN (SELECT id FROM v4) AND b IN (SELECT id FROM v4)
        ),v5 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e4 UNION ALL SELECT b AS id FROM e4
            ) GROUP BY id
          ) WHERE d >= 4
        ), e5 AS MATERIALIZED (
          SELECT * FROM e4
          WHERE a IN (SELECT id FROM v5) AND b IN (SELECT id FROM v5)
        ),v6 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e5 UNION ALL SELECT b AS id FROM e5
            ) GROUP BY id
          ) WHERE d >= 4
        ), e6 AS MATERIALIZED (
          SELECT * FROM e5
          WHERE a IN (SELECT id FROM v6) AND b IN (SELECT id FROM v6)
        ),v7 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e6 UNION ALL SELECT b AS id FROM e6
            ) GROUP BY id
          ) WHERE d >= 4
        ), e7 AS MATERIALIZED (
          SELECT * FROM e6
          WHERE a IN (SELECT id FROM v7) AND b IN (SELECT id FROM v7)
        ),v8 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e7 UNION ALL SELECT b AS id FROM e7
            ) GROUP BY id
          ) WHERE d >= 4
        ), e8 AS MATERIALIZED (
          SELECT * FROM e7
          WHERE a IN (SELECT id FROM v8) AND b IN (SELECT id FROM v8)
        ),v9 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e8 UNION ALL SELECT b AS id FROM e8
            ) GROUP BY id
          ) WHERE d >= 4
        ), e9 AS MATERIALIZED (
          SELECT * FROM e8
          WHERE a IN (SELECT id FROM v9) AND b IN (SELECT id FROM v9)
        ),v10 AS (
          SELECT id FROM (
            SELECT id, COUNT(*)::BIGINT AS d FROM (
              SELECT a AS id FROM e9 UNION ALL SELECT b AS id FROM e9
            ) GROUP BY id
          ) WHERE d >= 4
        ), e10 AS MATERIALIZED (
          SELECT * FROM e9
          WHERE a IN (SELECT id FROM v10) AND b IN (SELECT id FROM v10)
        )
        SELECT id, d AS degree FROM (
          SELECT id, COUNT(*)::BIGINT AS d FROM (
            SELECT a AS id FROM e10 UNION ALL SELECT b AS id FROM e10
          ) GROUP BY id
        ) WHERE d >= 4
    """

    sql["quality_dataset_split"] = """
        SELECT CASE WHEN b < 900 THEN 'train'
                    WHEN b < 950 THEN 'val' ELSE 'test' END AS split,
               COUNT(*)::BIGINT AS n_docs,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 14))::BIGINT
                   % 1000 AS b
          FROM documents
        ) GROUP BY 1
    """

    sql["text_url_dedup"] = r"""
        WITH planted AS (
          SELECT doc_id,
                 CASE doc_id % 4
                   WHEN 0 THEN 'https://Example.com/page' || (doc_id // 4)::VARCHAR
                   WHEN 1 THEN 'http://www.example.com/page' || (doc_id // 4)::VARCHAR || '/'
                   WHEN 2 THEN 'https://example.com/page' || (doc_id // 4)::VARCHAR || '#frag'
                   ELSE 'www.EXAMPLE.com/page' || (doc_id // 4)::VARCHAR
                 END AS url
          FROM documents
        ), canon AS (
          SELECT doc_id, url,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '#.*$', '', 'g'),
                       '^https?://', '', 'g'),
                     '^www\.', '', 'g'),
                   '/$', '', 'g') AS canonical_url
          FROM planted
        )
        SELECT doc_id, url, canonical_url FROM (
          SELECT *, row_number() OVER (
            PARTITION BY canonical_url ORDER BY doc_id ASC) AS rn
          FROM canon
        ) WHERE rn = 1
    """

    sql["text_normalize"] = r"""
        WITH noisy AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN '  Héllo' || chr(9) || 'Wörld  ' || text
                      WHEN doc_id % 3 = 1 THEN text || ' naïve  café' || chr(7)
                      ELSE upper(text) END AS text
          FROM documents
        ), norm AS (
          SELECT doc_id, text,
                 trim(regexp_replace(
                   regexp_replace(
                     translate(lower(text),
                       'áàâäãåéèêëíìîïóòôöõúùûüýÿñç',
                       'aaaaaaeeeeiiiiooooouuuuyync'),
                     '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                   '\s+', ' ', 'g')) AS text_norm
          FROM noisy
        )
        SELECT doc_id, length(text)::INT AS raw_len,
               length(text_norm)::INT AS norm_len,
               md5(text_norm) AS norm_fp
        FROM norm
    """

    sql["events_funnel"] = """
        WITH e AS (SELECT user_id AS u, ts AS t, event_type AS et FROM events),
        s1 AS (SELECT u, MIN(t) AS t1 FROM e WHERE et = 'signup' GROUP BY u),
        s2 AS (SELECT e.u, s1.t1, MIN(t) AS t2 FROM e JOIN s1 ON e.u = s1.u
               WHERE et = 'view' AND t > t1 GROUP BY e.u, s1.t1),
        s3 AS (SELECT e.u, s2.t2, MIN(t) AS t3 FROM e JOIN s2 ON e.u = s2.u
               WHERE et = 'purchase' AND t > t2 GROUP BY e.u, s2.t2)
        SELECT 1 AS step, 'signup' AS event_type, COUNT(*)::BIGINT AS n_users FROM s1
        UNION ALL
        SELECT 2, 'view', COUNT(*)::BIGINT FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*)::BIGINT FROM s3
    """

    sql["events_retention"] = """
        WITH base AS (
          SELECT DISTINCT user_id AS u,
                 (epoch_us(ts) // 86400000000) // 7 AS p
          FROM events
        ), first AS (
          SELECT u, MIN(p) AS cohort_period FROM base GROUP BY u
        )
        SELECT f.cohort_period, b.p - f.cohort_period AS period_offset,
               COUNT(DISTINCT b.u)::BIGINT AS n_users
        FROM base b JOIN first f ON b.u = f.u
        GROUP BY 1, 2
    """

    sql["events_cohort_ltv"] = """
        WITH base AS (
          SELECT user_id AS u,
                 (epoch_us(ts) // 86400000000) // 7 AS p,
                 COALESCE(CAST(ROUND(value, 4) AS DECIMAL(19,4)),
                          0::DECIMAL(19,4)) AS v
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), first AS (
          SELECT u, MIN(p) AS cohort_period FROM base GROUP BY u
        ), per AS (
          SELECT f.cohort_period, b.p - f.cohort_period AS period_offset,
                 COUNT(DISTINCT b.u)::BIGINT AS n_users,
                 SUM(b.v) AS pv
          FROM base b JOIN first f ON b.u = f.u
          GROUP BY 1, 2
        )
        SELECT cohort_period, period_offset, n_users,
               pv::DOUBLE AS period_value,
               (SUM(pv) OVER (
                  PARTITION BY cohort_period ORDER BY period_offset
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ))::DOUBLE AS cum_value
        FROM per
    """

    sql["graph_assortativity"] = """
        WITH e0 AS (
          SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), sym AS (
          SELECT s AS a, d AS b FROM e0 UNION ALL SELECT d, s FROM e0
        ), deg AS (
          SELECT a AS id, COUNT(*)::BIGINT AS k FROM sym GROUP BY a
        ), paired AS (
          SELECT dx.k AS kx, dy.k AS ky
          FROM sym JOIN deg dx ON sym.a = dx.id
                   JOIN deg dy ON sym.b = dy.id
        ), mom AS (
          SELECT COUNT(*)::BIGINT AS m,
                 SUM(kx::HUGEINT)::HUGEINT AS sx,
                 SUM(kx::HUGEINT * kx::HUGEINT)::HUGEINT AS sxx,
                 SUM(kx::HUGEINT * ky::HUGEINT)::HUGEINT AS sxy
          FROM paired
        )
        SELECT (m // 2)::BIGINT AS m_edges,
               (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
               ROUND((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     / NULLIF(m::DOUBLE * sxx::DOUBLE
                              - sx::DOUBLE * sx::DOUBLE, 0), 6) AS r
        FROM mom
    """

    sql["events_burstiness"] = """
        WITH g AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events WHERE ts IS NOT NULL
        ), agg AS (
          SELECT user_id, COUNT(*)::BIGINT AS n_gaps,
                 SUM(gap::HUGEINT)::HUGEINT AS sx,
                 SUM(gap::HUGEINT * gap::HUGEINT)::HUGEINT AS sxx
          FROM g WHERE gap IS NOT NULL GROUP BY user_id
        ), scored AS (
          SELECT user_id, n_gaps,
                 sx::DOUBLE / n_gaps::DOUBLE AS mean,
                 sqrt((n_gaps::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                      / (n_gaps::DOUBLE * n_gaps::DOUBLE)) AS sd
          FROM agg
        )
        SELECT user_id, n_gaps,
               ROUND(mean, 6) AS mean_gap_us,
               ROUND(sd, 6) AS std_gap_us,
               ROUND(CASE WHEN sd + mean <> 0
                          THEN (sd - mean) / (sd + mean) END, 6)
                 AS burstiness
        FROM scored
    """

    sql["basket_frequent_pairs"] = """
        WITH items AS (
          SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        )
        SELECT a.i AS item_a, bb.i AS item_b, COUNT(*)::BIGINT AS support
        FROM items a JOIN items bb ON a.b = bb.b AND a.i < bb.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    """

    # Entity resolution: the text_fuzzy_pairs candidate chain feeds a
    # recursive min-label reachability closure (the CC oracle pattern);
    # singletons keep themselves via the left join.
    sql["text_entity_clusters"] = """
        WITH RECURSIVE names AS (
          SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL
        ), grams AS (
          SELECT DISTINCT name, g FROM (
            SELECT name,
                   CASE WHEN length(name) >= 3
                        THEN unnest(list_transform(range(1, length(name) - 1),
                                    i -> substr(name, i, 3)))
                        ELSE name END AS g
            FROM names
          )
        ), cands AS (
          SELECT DISTINCT a.name AS name_a, b.name AS name_b
          FROM grams a JOIN grams b ON a.g = b.g AND a.name < b.name
        ), pairs AS (
          SELECT name_a, name_b FROM cands
          WHERE levenshtein(name_a, name_b) <= 2
            AND abs(length(name_a) - length(name_b)) <= 2
        ), sym AS (
          SELECT name_a AS a, name_b AS b FROM pairs
          UNION SELECT name_b, name_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), comp AS (
          SELECT n.name AS id, COALESCE(c.component, n.name) AS component
          FROM names n
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON n.name = c.id
        )
        SELECT component AS entity, COUNT(*)::BIGINT AS n_variants,
               MAX(id) AS max_variant
        FROM comp GROUP BY component
    """

    sql["events_threshold_crossings"] = """
        SELECT user_id, event_type,
               floor(epoch(ts))::BIGINT::DOUBLE AS crossed_at
        FROM (
          SELECT user_id, event_type, ts,
                 row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts ASC, event_id ASC) AS rn
          FROM events
        ) WHERE rn = 10
    """

    sql["etl_expectations"] = """
        WITH s AS (
          SELECT COUNT(*)::BIGINT AS n,
            SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v0,
            (COUNT(*) - COUNT(DISTINCT c_custkey)
               - SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
               + GREATEST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) - 1,
                          0))::BIGINT AS v1,
            SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)::BIGINT AS v2,
            SUM(CASE WHEN c_acctbal > 10000 THEN 1 ELSE 0 END)::BIGINT AS v3,
            SUM(CASE WHEN c_mktsegment IS NOT NULL AND c_mktsegment NOT IN
                ('MACHINERY','BUILDING','FURNITURE','AUTOMOBILE')
                THEN 1 ELSE 0 END)::BIGINT AS v4,
            SUM(CASE WHEN c_name IS NOT NULL AND NOT regexp_matches(c_name, '^Customer#[0-9]+$')
                THEN 1 ELSE 0 END)::BIGINT AS v5
          FROM customer
        )
        SELECT 0 AS rule_id, 'c_custkey' AS column, 'not_null' AS kind,
               v0 AS n_violations, n AS n_rows, v0 = 0 AS passed FROM s
        UNION ALL SELECT 1, 'c_custkey', 'unique', v1, n, v1 = 0 FROM s
        UNION ALL SELECT 2, 'c_acctbal', 'min', v2, n, v2 = 0 FROM s
        UNION ALL SELECT 3, 'c_acctbal', 'max', v3, n, v3 = 0 FROM s
        UNION ALL SELECT 4, 'c_mktsegment', 'in_set', v4, n, v4 = 0 FROM s
        UNION ALL SELECT 5, 'c_name', 'matches', v5, n, v5 = 0 FROM s
    """

    # Last-touch attribution: the oracle is an INDEPENDENT formulation
    # (join + row_number over touches-before, plus a NOT EXISTS branch
    # for the unattributed bucket) of the operator's single running
    # conditional-max window — agreement validates the semantics, not
    # just the arithmetic.
    sql["events_attribution"] = """
        WITH conv AS (
          SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        ), t AS (
          SELECT user_id, event_id, ts, event_type FROM events
          WHERE event_type IN ('click', 'view')
        ), pick AS (
          SELECT c.user_id, c.event_id AS conv_event_id, c.ts AS conv_ts,
                 t.event_id AS touch_event_id, t.ts AS touch_ts,
                 t.event_type AS touch_type,
                 row_number() OVER (
                   PARTITION BY c.event_id
                   ORDER BY t.ts DESC, t.event_id DESC) AS rn
          FROM conv c JOIN t ON t.user_id = c.user_id
            AND (t.ts < c.ts OR (t.ts = c.ts AND t.event_id < c.event_id))
        )
        SELECT user_id, conv_event_id, conv_ts,
               touch_event_id, touch_ts, touch_type
        FROM pick WHERE rn = 1
        UNION ALL
        SELECT c.user_id, c.event_id, c.ts,
               NULL::BIGINT, NULL::TIMESTAMP, NULL::VARCHAR
        FROM conv c WHERE NOT EXISTS (
          SELECT 1 FROM t WHERE t.user_id = c.user_id
            AND (t.ts < c.ts OR (t.ts = c.ts AND t.event_id < c.event_id)))
    """

    # SCD-2 history: tie-dedup at exact (key, ts), change-suppress via
    # lag (first row kept unconditionally — IS DISTINCT FROM alone
    # would drop a leading NULL state), interval-ize via lead.
    sql["etl_scd2_history"] = """
        WITH dd AS (
          SELECT user_id, ts, event_type,
                 row_number() OVER (
                   PARTITION BY user_id, ts
                   ORDER BY event_type ASC NULLS LAST) AS tie
          FROM events
        ), d AS (SELECT user_id, ts, event_type FROM dd WHERE tie = 1),
        s AS (
          SELECT user_id, ts, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
          FROM d
        ), st AS (
          SELECT user_id, ts, event_type FROM s
          WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        )
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        FROM st
    """

    sql["etl_cascade_delete"] = """
        WITH seeds AS (
          SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0
        ), del_orders AS (
          SELECT DISTINCT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM seeds)
        )
        SELECT 'customer' AS tbl,
          (SELECT COUNT(*) FROM customer
             WHERE c_custkey NOT IN (SELECT c_custkey FROM seeds))::BIGINT AS n_kept,
          (SELECT COUNT(*) FROM customer
             WHERE c_custkey IN (SELECT c_custkey FROM seeds))::BIGINT AS n_deleted
        UNION ALL
        SELECT 'orders',
          (SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM seeds))::BIGINT,
          (SELECT COUNT(*) FROM orders
             WHERE o_custkey IN (SELECT c_custkey FROM seeds))::BIGINT
        UNION ALL
        SELECT 'lineitem',
          (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders))::BIGINT,
          (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))::BIGINT
    """

    # Synchronous LPA, 3 unrolled rounds: closed-neighborhood vote,
    # (votes DESC, label ASC) argmax — mirrors the operator round for
    # round.
    _lpa_round = """
        {out} AS MATERIALIZED (
          SELECT id, label FROM (
            SELECT id, label, row_number() OVER (
              PARTITION BY id ORDER BY votes DESC, label ASC) AS rn
            FROM (
              SELECT id, label, COUNT(*)::BIGINT AS votes FROM (
                SELECT e.a AS id, l.label FROM sym e JOIN {prev} l ON l.id = e.b
                UNION ALL SELECT id, label FROM {prev}
              ) GROUP BY id, label
            )
          ) WHERE rn = 1
        )"""
    sql["graph_label_propagation"] = (
        """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM cop
            UNION ALL SELECT dst AS a, src AS b FROM cop
          ) WHERE a <> b
        ), l0 AS (SELECT DISTINCT a AS id, a AS label FROM sym),
        """
        + _lpa_round.format(out="r1", prev="l0")
        + ","
        + _lpa_round.format(out="r2", prev="r1")
        + ","
        + _lpa_round.format(out="r3", prev="r2")
        + """
        SELECT id, label FROM r3
    """
    )

    # BFS hop distance: independent recursive-CTE formulation — the
    # UNION-dedup explores every (id, d<=cap) pair, MIN(d) per vertex
    # equals the frontier algorithm's first-discovery distance.
    sql["graph_bfs_distances"] = """
        WITH RECURSIVE cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM cop
            UNION ALL SELECT dst AS a, src AS b FROM cop
          ) WHERE a <> b
        ), walk(id, d) AS (
          SELECT MIN(src), 0 FROM cop
          UNION
          SELECT e.b, w.d + 1 FROM walk w JOIN sym e ON e.a = w.id
          WHERE w.d < 3
        )
        SELECT id, MIN(d)::INT AS distance FROM walk GROUP BY id
    """

    # PMI of adjacent token pairs: exact integer counts; the single ln
    # per row in operand order identical to the Spark expression.
    sql["text_pmi_bigrams"] = f"""
        WITH toks AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), stream AS (
          SELECT doc_id, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM toks
        ), big AS (
          SELECT tok AS token_a, nxt AS token_b FROM stream WHERE nxt IS NOT NULL
        ),
        ntok AS (SELECT COUNT(*)::BIGINT AS n_tok FROM toks),
        nbig AS (SELECT COUNT(*)::BIGINT AS n_big FROM big),
        uni AS (SELECT tok, COUNT(*)::BIGINT AS n_uni FROM toks GROUP BY tok),
        pair AS (
          SELECT token_a, token_b, COUNT(*)::BIGINT AS n_pair
          FROM big GROUP BY token_a, token_b HAVING COUNT(*) >= 5
        )
        SELECT p.token_a, p.token_b, p.n_pair,
               ROUND(ln((p.n_pair * 1.0 * ntok.n_tok * ntok.n_tok)
                        / (nbig.n_big * 1.0 * ua.n_uni * ub.n_uni)), 6) AS pmi
        FROM pair p
        JOIN uni ua ON ua.tok = p.token_a
        JOIN uni ub ON ub.tok = p.token_b
        CROSS JOIN ntok CROSS JOIN nbig
    """

    # z-score outliers: integer-unit (1e-4) exact sums; z is one
    # IEEE-double expression in Spark-identical operand order.
    sql["quality_zscore_outliers"] = """
        WITH v AS (
          SELECT event_id, event_type, value,
                 CAST(CAST(ROUND(value, 4) AS DECIMAL(19,4)) * 10000 AS BIGINT) AS vi
          FROM events
        ), s AS (
          SELECT event_type, COUNT(*)::BIGINT AS n,
                 SUM(CAST(vi AS DECIMAL(38,0))) AS sm,
                 SUM(CAST(vi AS DECIMAL(19,0)) * CAST(vi AS DECIMAL(19,0))) AS ss
          FROM v WHERE vi IS NOT NULL GROUP BY event_type
        ), z AS (
          SELECT v.event_id, v.event_type, v.value,
                 ROUND((CAST(v.vi AS DOUBLE) - CAST(s.sm AS DOUBLE) / s.n)
                       / SQRT(CAST(s.ss AS DOUBLE) / s.n
                              - (CAST(s.sm AS DOUBLE) / s.n)
                                * (CAST(s.sm AS DOUBLE) / s.n)), 4) AS z
          FROM v JOIN s USING (event_type)
          WHERE CAST(s.ss AS DOUBLE) / s.n
                - (CAST(s.sm AS DOUBLE) / s.n) * (CAST(s.sm AS DOUBLE) / s.n) > 0
        )
        SELECT event_id, event_type, value, z FROM z WHERE ABS(z) > 2.5
    """

    # Rolling LOWER median: decimal window slice, sorted, exact
    # element pick at 1-based index (n+1) DIV 2 — no averaging
    # arithmetic anywhere, so both engines agree bit-for-bit.
    sql["events_rolling_median"] = """
        SELECT event_id, user_id,
               CASE WHEN len(l2) > 0 THEN
                 CAST(list_sort(l2)[(len(l2) + 1) // 2] AS DOUBLE)
               END AS rolling_median
        FROM (SELECT *, list_filter(l, x -> x IS NOT NULL) AS l2 FROM (
          SELECT event_id, user_id,
                 list(CAST(ROUND(value, 4) AS DECIMAL(19,4))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS l
          FROM events
        ))
    """

    sql["etl_snapshot_diff"] = """
        WITH nw AS (
          SELECT c_custkey, c_name, c_nationkey,
                 CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0
                      ELSE c_acctbal END AS c_acctbal,
                 c_mktsegment
          FROM customer WHERE c_custkey % 17 <> 0
          UNION ALL
          SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
                 c_mktsegment
          FROM customer WHERE c_custkey % 50 = 1
        ), d AS (
          SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
                 list_filter([
                   CASE WHEN o.c_name IS DISTINCT FROM n.c_name
                        THEN 'c_name' END,
                   CASE WHEN o.c_nationkey IS DISTINCT FROM n.c_nationkey
                        THEN 'c_nationkey' END,
                   CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                        THEN 'c_acctbal' END,
                   CASE WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                        THEN 'c_mktsegment' END
                 ], x -> x IS NOT NULL) AS ch,
                 o.c_custkey IS NOT NULL AS old_p,
                 n.c_custkey IS NOT NULL AS new_p
          FROM customer o FULL OUTER JOIN nw n ON o.c_custkey = n.c_custkey
        )
        SELECT c_custkey,
               CASE WHEN NOT old_p THEN 'added'
                    WHEN NOT new_p THEN 'removed'
                    WHEN len(ch) > 0 THEN 'changed' END AS change_type,
               CASE WHEN old_p AND new_p
                    THEN array_to_string(list_sort(ch), ',')
                    ELSE '' END AS changed_cols
        FROM d
        WHERE CASE WHEN NOT old_p THEN 'added'
                   WHEN NOT new_p THEN 'removed'
                   WHEN len(ch) > 0 THEN 'changed' END IS NOT NULL
    """

    sql["quality_histogram"] = """
        WITH b AS (
          SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
                 MAX(CAST(o_totalprice AS DOUBLE)) AS hi
          FROM orders
        ), r AS (
          SELECT CAST(LEAST(7, GREATEST(0,
                   FLOOR((CAST(o_totalprice AS DOUBLE) - lo)
                         / (hi - lo) * 8))) AS INT) AS bucket,
                 lo, hi
          FROM orders CROSS JOIN b
          WHERE o_totalprice IS NOT NULL AND hi > lo
        )
        SELECT bucket,
               ROUND(lo + bucket * (hi - lo) / 8, 6) AS lo_edge,
               ROUND(lo + (bucket + 1) * (hi - lo) / 8, 6) AS hi_edge,
               COUNT(*)::BIGINT AS n_rows
        FROM r GROUP BY bucket, lo, hi
    """

    # Correlation matrix: integer-unit (1e-4) exact sums, one scan;
    # every r in Spark-identical operand order.
    _cm = {
        "a": "l_quantity",
        "b": "l_extendedprice",
        "c": "l_discount",
        "d": "l_tax",
    }
    _cm_units = ", ".join(
        f"CAST(CAST(ROUND({col}, 4) AS DECIMAL(19,4)) * 10000 AS BIGINT) AS {k}"
        for k, col in _cm.items()
    )
    _cm_sums = ", ".join(
        [f"SUM(CAST({k} AS DECIMAL(38,0))) AS s_{k}" for k in _cm]
        + [
            f"SUM(CAST({k1} AS DECIMAL(19,0)) * CAST({k2} AS DECIMAL(19,0))) AS p_{k1}{k2}"
            for i, k1 in enumerate(_cm)
            for k2 in list(_cm)[i:]
        ]
    )
    _cm_rows = " UNION ALL ".join(
        f"""SELECT '{_cm[k1]}' AS col_a, '{_cm[k2]}' AS col_b,
            ROUND((CAST(n AS DOUBLE) * CAST(p_{k1}{k2} AS DOUBLE)
                   - CAST(s_{k1} AS DOUBLE) * CAST(s_{k2} AS DOUBLE))
                  / (SQRT(CAST(n AS DOUBLE) * CAST(p_{k1}{k1} AS DOUBLE)
                          - CAST(s_{k1} AS DOUBLE) * CAST(s_{k1} AS DOUBLE))
                     * SQRT(CAST(n AS DOUBLE) * CAST(p_{k2}{k2} AS DOUBLE)
                            - CAST(s_{k2} AS DOUBLE) * CAST(s_{k2} AS DOUBLE))), 6)
              AS corr
            FROM s"""
        for i, k1 in enumerate(_cm)
        for k2 in list(_cm)[i + 1 :]
    )
    sql["quality_corr_matrix"] = f"""
        WITH base AS (
          SELECT {_cm_units}
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            AND l_discount IS NOT NULL AND l_tax IS NOT NULL
        ), s AS (
          SELECT COUNT(*)::BIGINT AS n, {_cm_sums} FROM base
        )
        {_cm_rows}
    """

    sql["etl_mask_columns"] = """
        SELECT c_custkey,
               CASE WHEN c_name IS NOT NULL THEN
                 substr(sha256('r8' || ':' || CAST(c_name AS VARCHAR)), 1, 16)
               END AS c_name,
               CASE WHEN c_mktsegment IS NOT NULL THEN
                 substr(sha256('r8' || ':' || CAST(c_mktsegment AS VARCHAR)), 1, 16)
               END AS c_mktsegment
        FROM customer
    """

    # Truncated EWMA: the oracle's multiply-add chain is GENERATED
    # from the same Python weight literals as the operator, so both
    # engines execute the identical IEEE sequence term for term.
    _ew_w = [round(0.7**j, 12) for j in range(8)]
    _ew_num = " + ".join(
        f"CASE WHEN len(l2) > {j} THEN l2[-{j + 1}] * {w!r} ELSE 0.0 END"
        for j, w in enumerate(_ew_w)
    )
    _ew_den = " + ".join(
        f"CASE WHEN len(l2) > {j} THEN {w!r} ELSE 0.0 END"
        for j, w in enumerate(_ew_w)
    )
    # l2 mirrors Spark collect_list (NULLs excluded from the slice);
    # the empty-slice CASE mirrors the operator's NULL (never NaN)
    sql["events_ewma"] = f"""
        SELECT event_id, user_id,
               CASE WHEN (0.0 + {_ew_den}) > 0 THEN
                 ROUND((0.0 + {_ew_num}) / (0.0 + {_ew_den}), 6)
               END AS ewma
        FROM (
          SELECT event_id, user_id,
                 list_filter(
                   list(CAST(CAST(ROUND(value, 4) AS DECIMAL(19,4)) AS DOUBLE))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
                   x -> x IS NOT NULL) AS l2
          FROM events
        )
    """

    sql["events_markov"] = """
        WITH pairs AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS to_type
          FROM events
        ), c AS (
          SELECT from_type, to_type, COUNT(*)::BIGINT AS n_transitions
          FROM pairs WHERE to_type IS NOT NULL GROUP BY from_type, to_type
        ), t AS (
          SELECT from_type, SUM(n_transitions)::BIGINT AS tot
          FROM c GROUP BY from_type
        )
        SELECT c.from_type, c.to_type, c.n_transitions,
               ROUND(CAST(c.n_transitions AS DOUBLE) / t.tot, 6) AS p
        FROM c JOIN t USING (from_type)
    """

    sql["text_inverted_index"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ), g AS (
          SELECT term, list_sort(list(DISTINCT doc_id)) AS docs
          FROM toks GROUP BY term
        )
        SELECT term, len(docs)::INT AS df,
               array_to_string(docs[1:20], ',') AS postings
        FROM g WHERE len(docs) >= 2
    """

    # HITS, 3 unrolled rounds (6 half-steps): decimal-exact in-round
    # sums, MAX-normalized — mirrors the operator step for step.
    _hits_half = """
        {out}_raw AS (
          SELECT e.{to_col} AS id,
                 CAST(SUM(CAST(ROUND(p.{score}, 9) AS DECIMAL(28,9)))
                      AS DOUBLE) AS raw
          FROM dedges e JOIN {prev} p ON p.id = e.{from_col}
          GROUP BY e.{to_col}
        ), {out} AS MATERIALIZED (
          SELECT v.id,
                 ROUND(COALESCE(r.raw, 0.0)
                       / (SELECT MAX(raw) FROM {out}_raw), 9) AS {new_score}
          FROM hverts v LEFT JOIN {out}_raw r ON r.id = v.id
        )"""
    _hits_rounds = []
    for _r in (1, 2, 3):
        _hits_rounds.append(
            _hits_half.format(
                out=f"ha{_r}", prev=("h0" if _r == 1 else f"hh{_r - 1}"),
                to_col="b", from_col="a", score="hub", new_score="authority",
            )
        )
        _hits_rounds.append(
            _hits_half.format(
                out=f"hh{_r}", prev=f"ha{_r}",
                to_col="a", from_col="b", score="authority", new_score="hub",
            )
        )
    sql["graph_hits"] = (
        """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), dedges AS MATERIALIZED (
          SELECT DISTINCT src AS a, dst AS b FROM cop
          WHERE src IS NOT NULL AND dst IS NOT NULL
        ), hverts AS MATERIALIZED (
          SELECT DISTINCT id FROM (
            SELECT a AS id FROM dedges UNION ALL SELECT b FROM dedges
          )
        ), h0 AS (SELECT id, 1.0 AS hub FROM hverts),
        """
        + ",".join(_hits_rounds)
        + """
        SELECT h.id, ROUND(h.hub, 6) AS hub,
               ROUND(a.authority, 6) AS authority
        FROM hh3 h JOIN ha3 a USING (id)
    """
    )

    # Negative sampling: H56 draws mod corpus size over a dense
    # row_number index — the oracle mirrors draw-for-draw.
    sql["quality_negative_samples"] = f"""
        WITH ids AS (SELECT DISTINCT doc_id AS cid FROM documents),
        idx AS (
          SELECT cid, row_number() OVER (ORDER BY cid) - 1 AS i FROM ids
        ), nn AS (SELECT COUNT(*)::BIGINT AS n FROM idx),
        pairs AS (
          SELECT d.doc_id AS anchor_id, d.doc_id + 1 AS positive_id
          FROM documents d
          WHERE d.doc_id % 10 = 0
            AND EXISTS (SELECT 1 FROM ids WHERE cid = d.doc_id + 1)
        ), draws AS (
          SELECT p.anchor_id, p.positive_id, j.j,
                 {_H56.format(x="'neg' || ':' || p.anchor_id::VARCHAR || ':' || p.positive_id::VARCHAR || ':' || j.j::VARCHAR")}
                   % nn.n AS i
          FROM pairs p CROSS JOIN nn,
               unnest(range(0, 5)) AS j(j)
        ), cand AS (
          SELECT d.anchor_id, d.positive_id, d.j, x.cid
          FROM draws d JOIN idx x USING (i)
          WHERE x.cid <> d.anchor_id AND x.cid <> d.positive_id
        )
        SELECT anchor_id, positive_id,
               row_number() OVER (
                 PARTITION BY anchor_id, positive_id ORDER BY j)::INT
                 AS sample_rank,
               cid AS negative_id
        FROM cand
        QUALIFY sample_rank <= 3
    """

    # Bellman-Ford, 4 unrolled relaxation rounds over integer weights.
    _bf_round = """
        bf{r} AS MATERIALIZED (
          SELECT id, MIN(distance) AS distance FROM (
            SELECT e.b AS id, d.distance + e.w AS distance
            FROM bsym e JOIN bf{p} d ON d.id = e.a
            UNION ALL SELECT id, distance FROM bf{p}
          ) GROUP BY id
        )"""
    # Link prediction: wedge centers capped at deg<=40, non-edge pairs
    # with >=2 shared neighbors; per-term 1/ln(deg) rounds to 6-dp
    # DECIMAL before the exact sum (order-free), jaccard rounds at 6.
    sql["graph_link_prediction"] = """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), und AS MATERIALIZED (
          SELECT DISTINCT src AS u, dst AS v FROM cop WHERE src <> dst
        ), adj AS (
          SELECT u AS z, v AS x FROM und
          UNION ALL SELECT v AS z, u AS x FROM und
        ), deg AS MATERIALIZED (
          SELECT z, COUNT(*)::BIGINT AS deg FROM adj GROUP BY z
        ), cents AS (
          SELECT a.z, a.x, d.deg FROM adj a JOIN deg d ON a.z = d.z
          WHERE d.deg <= 40
        ), cand AS (
          SELECT c1.x AS a, c2.x AS b, c1.deg
          FROM cents c1 JOIN cents c2 ON c1.z = c2.z AND c1.x < c2.x
          WHERE NOT EXISTS (
            SELECT 1 FROM und e WHERE e.u = c1.x AND e.v = c2.x
          )
        ), pair AS (
          SELECT a, b, COUNT(*)::BIGINT AS common_neighbors,
                 SUM(round(1.0 / ln(deg), 6)::DECIMAL(18,6))::DOUBLE
                   AS adamic_adar
          FROM cand GROUP BY a, b HAVING COUNT(*) >= 2
        )
        SELECT p.a, p.b, p.common_neighbors, p.adamic_adar,
               round(p.common_neighbors
                     / (da.deg + db.deg - p.common_neighbors), 6) AS jaccard
        FROM pair p
        JOIN deg da ON p.a = da.z
        JOIN deg db ON p.b = db.z
    """

    sql["graph_bellman_ford"] = (
        """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), wedges AS (
          SELECT src, dst, (src + dst) % 5 + 1 AS w FROM cop
        ), bsym AS MATERIALIZED (
          SELECT a, b, MIN(w)::BIGINT AS w FROM (
            SELECT src AS a, dst AS b, w FROM wedges
            UNION ALL SELECT dst AS a, src AS b, w FROM wedges
          ) WHERE a <> b GROUP BY a, b
        ), bf0 AS (
          SELECT MIN(src) AS id, 0::BIGINT AS distance FROM cop
        ),"""
        + ",".join(
            _bf_round.format(r=r, p=r - 1) for r in (1, 2, 3, 4)
        )
        + """
        SELECT id, distance FROM bf4
    """
    )

    sql["events_enriched_stats"] = """
        SELECT c.c_mktsegment,
               COUNT(*)::BIGINT AS n_events,
               COUNT(DISTINCT e.user_id)::BIGINT AS n_users
        FROM events e
        LEFT JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment
    """

    # Z-order key: the interleave expression is GENERATED by the same
    # Python loop as the operator — bit for bit the same shifts.
    _zo_scale = (
        "CAST(LEAST(255, GREATEST(0, FLOOR("
        "CASE WHEN hi_{c} > lo_{c} THEN "
        "(CAST({c} AS DOUBLE) - lo_{c}) / (hi_{c} - lo_{c}) ELSE 0.0 END"
        " * 256))) AS BIGINT)"
    )
    # every term FULLY parenthesized: DuckDB's bitwise |, & and <<
    # share one precedence level (left-assoc), so a bare
    # `a | b << k` parses as `(a | b) << k` and overflows
    _zo_terms = " | ".join(
        f"(((s_{c} >> {bit}) & 1) << {bit * 2 + ci})"
        for bit in range(8)
        for ci, c in enumerate(["l_extendedprice", "l_quantity"])
    )
    sql["etl_zorder_layout"] = f"""
        WITH b AS (
          SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo_l_extendedprice,
                 MAX(CAST(l_extendedprice AS DOUBLE)) AS hi_l_extendedprice,
                 MIN(CAST(l_quantity AS DOUBLE)) AS lo_l_quantity,
                 MAX(CAST(l_quantity AS DOUBLE)) AS hi_l_quantity
          FROM lineitem
        ), s AS (
          SELECT l_orderkey, l_partkey, l_linenumber,
                 {_zo_scale.format(c="l_extendedprice")} AS s_l_extendedprice,
                 {_zo_scale.format(c="l_quantity")} AS s_l_quantity
          FROM lineitem CROSS JOIN b
        )
        SELECT l_orderkey, l_partkey, l_linenumber,
               ({_zo_terms})::BIGINT AS zkey
        FROM s
    """

    sql["quality_quantile_normalize"] = """
        SELECT doc_id, n_chars,
               ROUND(CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
                          AS DOUBLE)
                     / GREATEST(COUNT(*) OVER () - 1, 1), 6) AS quantile
        FROM documents
    """

    sql["events_ohlc"] = """
        WITH v AS (
          SELECT event_type,
                 CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - ((CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 + 86400) % 86400)
                   AS bucket_start,
                 lpad(CAST(FLOOR(epoch(ts)) AS BIGINT)::VARCHAR, 12, '0')
                   || lpad(event_id::VARCHAR, 20, '0') AS okey,
                 CAST(ROUND(value, 4) AS DECIMAL(19,4)) AS v4
          FROM events
        )
        SELECT event_type, bucket_start,
               CAST(arg_min(v4, okey) AS DOUBLE) AS open,
               CAST(MAX(v4) AS DOUBLE) AS high,
               CAST(MIN(v4) AS DOUBLE) AS low,
               CAST(arg_max(v4, okey) AS DOUBLE) AS close,
               COUNT(*)::BIGINT AS n_rows,
               CAST(SUM(CAST(v4 AS DECIMAL(28,4))) AS DOUBLE) AS total
        FROM v GROUP BY event_type, bucket_start
    """

    sql["events_ohlc_windowed"] = """
        WITH v AS (
          SELECT event_type,
                 time_bucket(INTERVAL '1 hour', ts) AS window_start,
                 lpad(CAST(FLOOR(epoch(ts)) AS BIGINT)::VARCHAR, 12, '0')
                   || lpad(event_id::VARCHAR, 20, '0') AS okey,
                 CAST(ROUND(value, 4) AS DECIMAL(19,4)) AS v4
          FROM events
        )
        SELECT window_start, event_type,
               CAST(arg_min(v4, okey) AS DOUBLE) AS open,
               CAST(MAX(v4) AS DOUBLE) AS high,
               CAST(MIN(v4) AS DOUBLE) AS low,
               CAST(arg_max(v4, okey) AS DOUBLE) AS close,
               COUNT(*)::BIGINT AS n_rows,
               CAST(SUM(CAST(v4 AS DECIMAL(28,4))) AS DOUBLE) AS total
        FROM v GROUP BY window_start, event_type
    """

    _prc_rows = " UNION ALL ".join(
        f"""SELECT {t} AS threshold,
            SUM(CASE WHEN quality >= {t} AND y THEN 1 ELSE 0 END)::BIGINT AS tp,
            SUM(CASE WHEN quality >= {t} AND NOT y THEN 1 ELSE 0 END)::BIGINT AS fp,
            SUM(CASE WHEN quality < {t} AND y THEN 1 ELSE 0 END)::BIGINT AS fn
            FROM q"""
        for t in (0.3, 0.5, 0.7, 0.9)
    )
    sql["quality_pr_curve"] = f"""
        WITH base AS (
          SELECT doc_id, lang = 'en' AS y,
                 len({_TOKS}) AS n_tok,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                 len(list_filter({_TOKS}, t -> lower(t) IN
                   ('the','and','of','to','a','in','is','it','you','that'))) AS stop_hits
          FROM documents
        ), ratios AS (
          SELECT doc_id, y, n_tok,
                 CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok::DOUBLE ELSE 0.0 END AS mwl,
                 CASE WHEN n_chars > 0 THEN n_punct / n_chars::DOUBLE ELSE 0.0 END AS pr,
                 CASE WHEN n_tok > 0 THEN stop_hits / n_tok::DOUBLE ELSE 0.0 END AS sr
          FROM base
        ), q AS (
          SELECT doc_id, y,
               ROUND(CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN mwl BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END
                   + CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END
                   + CASE WHEN sr >= 0.05 THEN 0.1 ELSE 0.0 END, 2) AS quality
          FROM ratios
        ), counts AS ({_prc_rows})
        SELECT threshold, tp, fp, fn,
               ROUND(CASE WHEN tp + fp > 0
                     THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6)
                 AS precision,
               ROUND(CASE WHEN tp + fn > 0
                     THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6)
                 AS recall
        FROM counts
    """

    # calibration: the quality_score stopword ratio (4-dp rounded, the
    # op's output contract) Platt-mapped through sigmoid(40*sr - 2) as
    # a claimed P(english), binned into 10 equal-width buckets; scores
    # sum as DECIMAL(28,6) of their 6-dp rounding (order-free exact),
    # one double division per ratio
    sql["quality_calibration_bins"] = f"""
        WITH base AS (
          SELECT doc_id, lang = 'en' AS y,
                 len({_TOKS}) AS n_tok,
                 len(list_filter({_TOKS}, t -> lower(t) IN
                   ('the','and','of','to','a','in','is','it','you','that'))) AS stop_hits
          FROM documents
        ), ratios AS (
          SELECT doc_id, y,
                 ROUND(CASE WHEN n_tok > 0
                       THEN stop_hits / n_tok::DOUBLE ELSE 0.0 END, 4) AS sr
          FROM base
        ), q AS (
          SELECT doc_id, y,
                 ROUND(1.0 / (1.0 + exp(-(sr * 40 - 2))), 6) AS p_en
          FROM ratios
        ), binned AS (
          SELECT LEAST(GREATEST(FLOOR(p_en * 10), 0), 9)::INT AS bin,
                 CAST(ROUND(p_en, 6) AS DECIMAL(28,6)) AS s,
                 CASE WHEN COALESCE(y, FALSE) THEN 1 ELSE 0 END AS yy
          FROM q WHERE p_en IS NOT NULL
        ), per AS (
          SELECT bin, COUNT(*)::BIGINT AS n, SUM(s) AS ss,
                 SUM(yy)::BIGINT AS pos
          FROM binned GROUP BY bin
        ), tot AS (SELECT SUM(n)::BIGINT AS nn FROM per)
        SELECT bin,
               ROUND(bin / 10.0, 6) AS bin_lo,
               ROUND((bin + 1) / 10.0, 6) AS bin_hi,
               n,
               ROUND(ss::DOUBLE / n, 6) AS avg_score,
               ROUND(pos::DOUBLE / n, 6) AS pos_rate,
               ROUND(pos::DOUBLE / n - ss::DOUBLE / n, 6) AS gap,
               ROUND((n::DOUBLE / nn) * ABS(pos::DOUBLE / n - ss::DOUBLE / n), 6) AS ece_term
        FROM per, tot
    """

    _rw_step = """
        w{r} AS MATERIALIZED (
          SELECT walk_id, start_id, node FROM (
            SELECT c.walk_id, c.start_id, e.b AS node,
                   row_number() OVER (
                     PARTITION BY c.walk_id
                     ORDER BY {h}, e.b) AS rn
            FROM w{p} c JOIN wsym e ON e.a = c.node
          ) WHERE rn = 1
        )"""
    _rw_h = _H56.format(
        x="'walk' || ':' || c.walk_id::VARCHAR || ':' || '{r}' || ':' "
          "|| e.b::VARCHAR"
    )
    sql["graph_random_walks"] = (
        """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), wsym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM cop
            UNION ALL SELECT dst AS a, src AS b FROM cop
          ) WHERE a <> b
        ), w0 AS (
          SELECT v.id * 2 + j.j AS walk_id, v.id AS start_id, v.id AS node
          FROM (SELECT DISTINCT a AS id FROM wsym) v,
               unnest(range(0, 2)) AS j(j)
        ),"""
        + ",".join(
            _rw_step.format(r=r, p=r - 1, h=_rw_h.format(r=r))
            for r in (1, 2, 3)
        )
        + """
        SELECT walk_id, start_id, 0 AS step, node FROM w0
        UNION ALL SELECT walk_id, start_id, 1, node FROM w1
        UNION ALL SELECT walk_id, start_id, 2, node FROM w2
        UNION ALL SELECT walk_id, start_id, 3, node FROM w3
    """
    )

    # node2vec: same unrolled shape, but each step past the first
    # multiplies the hash by the integer p/q penalty (4 = return,
    # 1 = triangle-close, 2 = explore) and carries prev for the test
    _n2v_h = _H56.format(
        x="'n2v' || ':' || c.walk_id::VARCHAR || ':' || '{r}' || ':' "
          "|| e.b::VARCHAR"
    )
    _n2v_step = """
        w{r} AS MATERIALIZED (
          SELECT walk_id, start_id, node, prev FROM (
            SELECT c.walk_id, c.start_id, e.b AS node, c.node AS prev,
                   row_number() OVER (
                     PARTITION BY c.walk_id
                     ORDER BY {h} * (CASE WHEN e.b = c.prev THEN 4
                                          WHEN t.b IS NOT NULL THEN 1
                                          ELSE 2 END), e.b) AS rn
            FROM w{p} c JOIN wsym e ON e.a = c.node
            LEFT JOIN wsym t ON t.a = c.prev AND t.b = e.b
          ) WHERE rn = 1
        )"""
    _n2v_first = """
        w1 AS MATERIALIZED (
          SELECT walk_id, start_id, node, prev FROM (
            SELECT c.walk_id, c.start_id, e.b AS node, c.node AS prev,
                   row_number() OVER (
                     PARTITION BY c.walk_id
                     ORDER BY {h}, e.b) AS rn
            FROM w0 c JOIN wsym e ON e.a = c.node
          ) WHERE rn = 1
        )"""
    sql["graph_node2vec_walks"] = (
        """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), wsym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM cop
            UNION ALL SELECT dst AS a, src AS b FROM cop
          ) WHERE a <> b
        ), w0 AS (
          SELECT v.id * 2 + j.j AS walk_id, v.id AS start_id, v.id AS node
          FROM (SELECT DISTINCT a AS id FROM wsym) v,
               unnest(range(0, 2)) AS j(j)
        ),"""
        + _n2v_first.format(h=_n2v_h.format(r=1))
        + ","
        + ",".join(
            _n2v_step.format(r=r, p=r - 1, h=_n2v_h.format(r=r))
            for r in (2, 3)
        )
        + """
        SELECT walk_id, start_id, 0 AS step, node FROM w0
        UNION ALL SELECT walk_id, start_id, 1, node FROM w1
        UNION ALL SELECT walk_id, start_id, 2, node FROM w2
        UNION ALL SELECT walk_id, start_id, 3, node FROM w3
    """
    )

    sql["events_seasonal_anomaly"] = """
        WITH daily AS (
          SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
                 isodow(ts)::INT AS dow,
                 hour(ts)::INT AS hour, COUNT(*)::BIGINT AS n_events
          FROM events WHERE ts IS NOT NULL
          GROUP BY 1, 2, 3, 4
        ), cells AS (
          SELECT event_type, dow, hour, SUM(n_events)::BIGINT AS tot,
                 COUNT(*)::BIGINT AS ndays
          FROM daily GROUP BY 1, 2, 3
        )
        SELECT d.event_type, d.event_date, d.hour, d.n_events,
               ROUND((d.n_events * c.ndays) / c.tot, 6) AS ratio
        FROM daily d JOIN cells c USING (event_type, dow, hour)
        WHERE d.n_events * c.ndays > 2 * c.tot
    """

    sql["text_zipf_fit"] = """
        WITH counts AS (
          SELECT tok, COUNT(*)::BIGINT AS freq FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                          t -> t <> '')) AS tok
            FROM documents
          ) GROUP BY tok ORDER BY freq DESC, tok LIMIT 100
        ), xy AS (
          SELECT ROUND(ln(row_number() OVER (ORDER BY freq DESC, tok)
                          ::DOUBLE), 9)::DECIMAL(28,9) AS x,
                 ROUND(ln(freq::DOUBLE), 9)::DECIMAL(28,9) AS y
          FROM counts
        )
        SELECT COUNT(*)::INT AS k,
               ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::DOUBLE
                     / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))::DOUBLE,
                     6) AS slope
        FROM xy
    """

    sql["etl_key_skew_report"] = """
        WITH counts AS (
          SELECT l_orderkey, COUNT(*)::BIGINT AS cnt FROM lineitem
          GROUP BY l_orderkey
        ), t AS (SELECT SUM(cnt)::BIGINT AS total FROM counts)
        SELECT l_orderkey, cnt,
               ROUND(cnt / (SELECT total FROM t)::DOUBLE, 6) AS share
        FROM counts ORDER BY cnt DESC, l_orderkey LIMIT 10
    """

    sql["events_rfm_segments"] = """
        WITH base AS (
          SELECT user_id, ts, value FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ), anchor AS (
          SELECT MAX(floor(epoch(ts)))::BIGINT AS now FROM base
        ), per_user AS (
          SELECT user_id AS "user",
                 (SELECT now FROM anchor)
                   - MAX(floor(epoch(ts)))::BIGINT AS recency_s,
                 COUNT(*)::BIGINT AS frequency,
                 COALESCE(SUM(ROUND(value, 2)::DECIMAL(20,2)),
                          0::DECIMAL(20,2)) AS monetary
          FROM base GROUP BY 1
        ), n AS (SELECT COUNT(*)::BIGINT AS n FROM per_user),
        ranked AS (
          SELECT *,
            row_number() OVER (ORDER BY recency_s::DOUBLE, "user")
              ::BIGINT AS rr,
            row_number() OVER (ORDER BY frequency::DOUBLE, "user")
              ::BIGINT AS rf,
            row_number() OVER (ORDER BY monetary::DOUBLE, "user")
              ::BIGINT AS rm
          FROM per_user
        )
        SELECT "user", recency_s, frequency, monetary::DOUBLE AS monetary,
               6 - (1 + floor((rr - 1) * 5 / n.n)::BIGINT) AS r,
               1 + floor((rf - 1) * 5 / n.n)::BIGINT AS f,
               1 + floor((rm - 1) * 5 / n.n)::BIGINT AS m
        FROM ranked CROSS JOIN n
    """

    sql["events_funnel_windowed"] = """
        WITH e AS (SELECT user_id AS u, ts AS t, event_type AS et FROM events),
        s1 AS (SELECT u, MIN(t) AS t1 FROM e WHERE et = 'signup' GROUP BY u),
        s2 AS (SELECT e.u, s1.t1, MIN(t) AS t2 FROM e JOIN s1 ON e.u = s1.u
               WHERE et = 'view' AND t > t1
                 AND t <= t1 + INTERVAL 86400 SECONDS
               GROUP BY e.u, s1.t1),
        s3 AS (SELECT e.u, s2.t1, MIN(t) AS t3 FROM e JOIN s2 ON e.u = s2.u
               WHERE et = 'purchase' AND t > t2
                 AND t <= s2.t1 + INTERVAL 86400 SECONDS
               GROUP BY e.u, s2.t1)
        SELECT 1 AS step, 'signup' AS event_type,
               COUNT(*)::BIGINT AS n_users FROM s1
        UNION ALL
        SELECT 2, 'view', COUNT(*)::BIGINT FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*)::BIGINT FROM s3
    """

    sql["dedup_containment_pairs"] = """
        WITH sh0 AS (
          SELECT doc_id, unnest(list_distinct(CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) >= 3 THEN list_transform(range(1, len(list_filter(string_split(text, ' '), t -> t <> '')) - 1), i -> array_to_string(list_slice(list_filter(string_split(text, ' '), t -> t <> ''), i, i + 2), ' ')) ELSE [array_to_string(list_filter(string_split(text, ' '), t -> t <> ''), ' ')] END)) AS s FROM documents
        ), dfreq AS (
          SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
        ), sh AS (
          SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfreq USING (s) WHERE df <= 16
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(inter / sa.n_sh::DOUBLE, 6) AS containment_a,
               ROUND(inter / sb.n_sh::DOUBLE, 6) AS containment_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE GREATEST(ROUND(inter / sa.n_sh::DOUBLE, 6),
                       ROUND(inter / sb.n_sh::DOUBLE, 6)) >= 0.3
    """

    sql["sim_maxsim_topk"] = """
        WITH q AS (
          SELECT vec_id AS qid, embedding FROM embeddings WHERE label = 0
        ), d AS (
          SELECT label, embedding FROM embeddings WHERE label <> 0
        ), best AS (
          SELECT d.label, q.qid,
                 MAX(ROUND(list_dot_product(q.embedding::DOUBLE[],
                                            d.embedding::DOUBLE[]), 6)
                     ::DECIMAL(20,6)) AS best
          FROM d, q GROUP BY 1, 2
        ), sc AS (
          SELECT label, SUM(best)::DOUBLE AS maxsim FROM best GROUP BY label
        )
        SELECT label, maxsim, rank FROM (
          SELECT label, maxsim,
                 row_number() OVER (ORDER BY maxsim DESC, label)::INT AS rank
          FROM sc
        ) WHERE rank <= 5
    """

    sql["approx_quantile_sketch"] = """
        SELECT 64 AS k, 1 AS nonempty, 1 AS rank_bounds_ok
    """

    sql["sim_l2_topk"] = """
        WITH scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 ROUND(sqrt(list_reduce(
                   list_transform(range(1, len(a.embedding) + 1),
                     i -> (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
                          * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)),
                   (x, y) -> x + y)), 4) AS l2_dist
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY l2_dist ASC, neighbor_id)::INT
            AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, l2_dist, rank FROM ranked
        WHERE rank <= 5
    """

    sql["approx_heavy_hitters"] = """
        SELECT 3 AS k, 1 AS size_ok, 1 AS heavy_present, 1 AS bounds_ok
    """

    sql["text_llr_collocations"] = """
        WITH toks AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM (SELECT doc_id,
                       list_filter(string_split(text, ' '), t -> t <> '') AS tk
                FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), stream AS (
          SELECT doc_id, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM toks
        ), big AS (
          SELECT tok AS token_a, nxt AS token_b FROM stream
          WHERE nxt IS NOT NULL
        ),
        nbig AS (SELECT COUNT(*)::BIGINT AS n_big FROM big),
        rows_ AS (SELECT token_a, COUNT(*)::BIGINT AS n_row FROM big
                  GROUP BY token_a),
        cols_ AS (SELECT token_b, COUNT(*)::BIGINT AS n_col FROM big
                  GROUP BY token_b),
        pair AS (
          SELECT token_a, token_b, COUNT(*)::BIGINT AS n_pair
          FROM big GROUP BY token_a, token_b HAVING COUNT(*) >= 5
        )
        SELECT p.token_a, p.token_b, p.n_pair,
               ROUND(2.0 * (
                 (CASE WHEN p.n_pair > 0 THEN p.n_pair *
                   ln((p.n_pair * 1.0 * nbig.n_big)
                      / (r.n_row * 1.0 * c.n_col)) ELSE 0.0 END)
                 + (CASE WHEN r.n_row - p.n_pair > 0
                    THEN (r.n_row - p.n_pair) *
                      ln(((r.n_row - p.n_pair) * 1.0 * nbig.n_big)
                         / (r.n_row * 1.0 * (nbig.n_big - c.n_col)))
                    ELSE 0.0 END)
                 + (CASE WHEN c.n_col - p.n_pair > 0
                    THEN (c.n_col - p.n_pair) *
                      ln(((c.n_col - p.n_pair) * 1.0 * nbig.n_big)
                         / ((nbig.n_big - r.n_row) * 1.0 * c.n_col))
                    ELSE 0.0 END)
                 + (CASE WHEN nbig.n_big - r.n_row - c.n_col + p.n_pair > 0
                    THEN (nbig.n_big - r.n_row - c.n_col + p.n_pair) *
                      ln(((nbig.n_big - r.n_row - c.n_col + p.n_pair)
                          * 1.0 * nbig.n_big)
                         / ((nbig.n_big - r.n_row) * 1.0
                            * (nbig.n_big - c.n_col)))
                    ELSE 0.0 END)
               ), 6) AS llr
        FROM pair p
        JOIN rows_ r USING (token_a)
        JOIN cols_ c USING (token_b)
        CROSS JOIN nbig
    """

    sql["events_seasonal_profile"] = """
        WITH cells AS (
          SELECT event_type, isodow(ts)::INT AS dow, hour(ts)::INT AS hour,
                 COUNT(*)::BIGINT AS n_events
          FROM events WHERE ts IS NOT NULL
          GROUP BY 1, 2, 3
        ), totals AS (
          SELECT event_type, SUM(n_events)::BIGINT AS tot,
                 COUNT(*)::BIGINT AS ncells
          FROM cells GROUP BY 1
        )
        SELECT c.event_type, c.dow, c.hour, c.n_events,
               ROUND((c.n_events * t.ncells) / t.tot, 6)
                 AS seasonality_index
        FROM cells c JOIN totals t USING (event_type)
    """

    sql["etl_fk_orphans"] = """
        WITH rel AS (
          SELECT 'orders_customer' AS relation,
                 (SELECT COUNT(*) FROM orders)::BIGINT AS n_child,
                 (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                   ::BIGINT AS n_null_fk,
                 (SELECT COUNT(*) FROM orders o
                  WHERE o_custkey IS NOT NULL AND NOT EXISTS (
                    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                   ::BIGINT AS n_orphans
          UNION ALL
          SELECT 'lineitem_orders',
                 (SELECT COUNT(*) FROM lineitem)::BIGINT,
                 (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
                   ::BIGINT,
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE l_orderkey IS NOT NULL AND NOT EXISTS (
                    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                   ::BIGINT
          UNION ALL
          SELECT 'supplier_nation',
                 (SELECT COUNT(*) FROM supplier)::BIGINT,
                 (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NULL)
                   ::BIGINT,
                 (SELECT COUNT(*) FROM supplier s
                  WHERE s_nationkey IS NOT NULL AND NOT EXISTS (
                    SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
                   ::BIGINT
          UNION ALL
          SELECT 'lineitem_low_nation_suppliers',
                 (SELECT COUNT(*) FROM lineitem)::BIGINT,
                 (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL)
                   ::BIGINT,
                 (SELECT COUNT(*) FROM lineitem l
                  WHERE l_suppkey IS NOT NULL AND NOT EXISTS (
                    SELECT 1 FROM supplier s
                    WHERE s.s_nationkey < 10 AND s.s_suppkey = l.l_suppkey))
                   ::BIGINT
        )
        SELECT relation, n_child, n_null_fk, n_orphans,
               CASE WHEN n_child - n_null_fk > 0
                    THEN ROUND(n_orphans / (n_child - n_null_fk), 6)
                    ELSE 0.0 END AS orphan_pct
        FROM rel
    """

    # Holt recursion UNROLLED into per-step CTE pairs (compute the new
    # level in one CTE, the new trend from it in the next) — DuckDB
    # 1.0's list_reduce rebinds struct-accumulator fields from the 3rd
    # element on (verified: {'l': e.x+acc.l, 'b': acc.l*10} yields the
    # NEW l inside b), so a struct fold cannot oracle this. All
    # constants are explicit DOUBLE subtractions to match Spark's
    # lit(1.0) - lit(0.3) bit-for-bit.
    _holt_steps = "".join(
        f""", h{j}a AS (
          SELECT event_id, user_id, l2, l, b,
                 CASE WHEN len(l2) >= {j}
                      THEN 0.3::DOUBLE * l2[{j}]
                           + (1.0::DOUBLE - 0.3::DOUBLE) * (l + b)
                      ELSE l END AS ln
          FROM h{j - 1}
        ), h{j} AS (
          SELECT event_id, user_id, l2, ln AS l,
                 CASE WHEN len(l2) >= {j}
                      THEN 0.2::DOUBLE * (ln - l)
                           + (1.0::DOUBLE - 0.2::DOUBLE) * b
                      ELSE b END AS b
          FROM h{j}a
        )"""
        for j in range(2, 9)
    )
    sql["events_holt_forecast"] = (
        """
        WITH base AS (
          SELECT event_id, user_id,
                 list_filter(
                   list(CAST(CAST(ROUND(value, 4) AS DECIMAL(19,4))
                             AS DOUBLE))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
                   x -> x IS NOT NULL) AS l2
          FROM events
        ), h1 AS (
          SELECT event_id, user_id, l2,
                 CASE WHEN len(l2) >= 1 THEN l2[1] END AS l,
                 0.0::DOUBLE AS b
          FROM base
        )"""
        + _holt_steps
        + """
        SELECT event_id, user_id,
               CASE WHEN len(l2) > 0 THEN ROUND(l + b, 6) END AS holt
        FROM h8
    """
    )

    sql["sim_mips_ivf_topk"] = """
        SELECT 10 AS n_queries, 5 AS k, TRUE AS recall_ok
    """

    sql["quality_gini_tokens"] = """
        WITH base AS (
          SELECT doc_id,
                 len(list_filter(string_split(text, ' '), t -> t <> ''))
                   ::BIGINT AS x
          FROM documents
        ), ranked AS (
          SELECT x, row_number() OVER (ORDER BY x, doc_id)::BIGINT AS r
          FROM base
        )
        SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS total,
               -- r::HUGEINT: SUM(r*x) ~ n^2*mean blows past int64 around
               -- 2e9 docs; HUGEINT keeps the numerator exact to 1.7e38,
               -- matching Spark's decimal(38,0) product-sum
               ROUND(2.0 * SUM(r::HUGEINT * x)
                     / (COUNT(*)::DOUBLE * SUM(x))
                     - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        FROM ranked
    """

    sql["quality_shard_plan"] = """
        WITH base AS (
          SELECT doc_id,
                 len(list_filter(string_split(text, ' '), t -> t <> ''))
                   ::BIGINT AS n_tokens
          FROM documents
        ), summed AS (
          SELECT doc_id, n_tokens,
                 -- ::BIGINT: DuckDB's SUM(BIGINT) OVER yields HUGEINT,
                 -- which pandas round-trips as a different dtype than
                 -- Spark's long and broke the driver's value hash (r10)
                 SUM(n_tokens) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_tokens
          FROM base
        )
        SELECT doc_id, n_tokens, cum_tokens,
               CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS shard
        FROM summed
    """

    sql["sim_mips_topk"] = """
        WITH scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 ROUND(list_dot_product(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS dot_sim
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dot_sim DESC, neighbor_id)::INT
            AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, dot_sim, rank FROM ranked
        WHERE rank <= 5
    """

    sql["text_rake_keywords"] = """
        WITH tok AS (
          SELECT doc_id, u.pos, u.tok FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) + 1),
                          i -> {'pos': i, 'tok': toks[i]})) AS u
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '), t -> t <> '')
                           AS toks
                  FROM documents)
          )
        ), seg AS (
          SELECT doc_id, pos, tok,
                 tok IN ('the','and','of','to','a','in','is','it','you','that')
                   AS is_stop,
                 SUM(CASE WHEN tok IN ('the','and','of','to','a','in','is',
                                       'it','you','that')
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS pid
          FROM tok
        ), words AS MATERIALIZED (
          SELECT doc_id, pid, pos, tok FROM seg WHERE NOT is_stop
        ), phrases AS MATERIALIZED (
          SELECT doc_id, pid,
                 string_agg(tok, ' ' ORDER BY pos) AS phrase,
                 COUNT(*)::BIGINT AS n_words
          FROM words GROUP BY doc_id, pid
        ), wstats AS (
          SELECT w.tok,
                 ROUND(SUM(p.n_words)::DOUBLE / COUNT(*), 6)::DECIMAL(18,6)
                   AS wscore
          FROM words w JOIN phrases p USING (doc_id, pid)
          GROUP BY w.tok
        ), scored AS (
          SELECT w.doc_id, w.pid, SUM(s.wscore)::DOUBLE AS score
          FROM words w JOIN wstats s ON w.tok = s.tok
          GROUP BY w.doc_id, w.pid
        )
        SELECT doc_id, phrase, n_words, score, rank FROM (
          SELECT sc.doc_id, p.phrase, p.n_words, sc.score,
                 row_number() OVER (PARTITION BY sc.doc_id
                                    ORDER BY sc.score DESC, p.phrase) AS rank
          FROM scored sc JOIN phrases p USING (doc_id, pid)
        ) WHERE rank <= 3
    """

    sql["graph_neighbor_stats"] = """
        WITH cop AS (
          SELECT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE year(a.l_shipdate) = 1995 AND year(b.l_shipdate) = 1995
        ), sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM cop
            UNION ALL SELECT dst AS a, src AS b FROM cop
          ) WHERE a <> b
        ), deg AS (
          SELECT a AS id, COUNT(*)::BIGINT AS degree FROM sym GROUP BY a
        ), nbr AS (
          SELECT s.a AS id, SUM(d.degree)::BIGINT AS sm,
                 COUNT(*)::BIGINT AS n, MAX(d.degree) AS max_neighbor_degree
          FROM sym s JOIN deg d ON d.id = s.b GROUP BY s.a
        )
        SELECT deg.id, deg.degree,
               ROUND(CAST(nbr.sm AS DOUBLE) / nbr.n, 6)
                 AS mean_neighbor_degree,
               nbr.max_neighbor_degree
        FROM deg JOIN nbr USING (id)
    """

    sql["etl_apply_cdc"] = """
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer
        WHERE c_custkey % 17 <> 0 AND c_custkey % 10 <> 3
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0,
               c_mktsegment
        FROM customer
        WHERE c_custkey % 10 = 3 AND c_custkey % 17 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 50 = 1
    """

    sql["etl_scd2_pit"] = """
        WITH dd AS (
          SELECT user_id, ts, event_type,
                 row_number() OVER (
                   PARTITION BY user_id, ts
                   ORDER BY event_type ASC NULLS LAST) AS tie
          FROM events
        ), d AS (SELECT user_id, ts, event_type FROM dd WHERE tie = 1),
        s AS (
          SELECT user_id, ts, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
          FROM d
        ), st AS (
          SELECT user_id, ts, event_type FROM s
          WHERE rn = 1 OR event_type IS DISTINCT FROM prev
        ), hist AS (
          SELECT user_id, event_type AS prior_state, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
          FROM st
        ), probes AS (
          SELECT event_id, user_id, ts - INTERVAL 1 SECOND AS pit_ts
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, h.prior_state
        FROM probes p JOIN hist h
          ON p.user_id = h.user_id
         AND p.pit_ts >= h.valid_from
         AND (h.valid_to IS NULL OR p.pit_ts < h.valid_to)
    """

    sql["sim_embedding_drift"] = """
        WITH o AS (
          SELECT t.i - 1 AS dim,
                 CAST(SUM(CAST(ROUND(CAST(em[t.i] AS DOUBLE), 6)
                               AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(em[t.i]) AS mo
          FROM (SELECT embedding AS em FROM embeddings WHERE vec_id % 2 = 0),
               unnest(range(1, len(em) + 1)) AS t(i)
          GROUP BY t.i
        ), n AS (
          SELECT t.i - 1 AS dim,
                 CAST(SUM(CAST(ROUND(CAST(em[t.i] AS DOUBLE), 6)
                               AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(em[t.i]) AS mn
          FROM (SELECT embedding AS em FROM embeddings WHERE vec_id % 2 = 1),
               unnest(range(1, len(em) + 1)) AS t(i)
          GROUP BY t.i
        )
        SELECT dim, ROUND(mo, 6) AS mean_old, ROUND(mn, 6) AS mean_new,
               ROUND(ABS(mo - mn), 6) AS abs_delta
        FROM o JOIN n USING (dim)
    """

    sql["quality_winsorize"] = """
        WITH r AS (
          SELECT event_type,
                 CAST(ROUND(value, 4) AS DECIMAL(19,4)) AS v,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(ROUND(value, 4) AS DECIMAL(19,4))) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL
        ), pct AS (
          SELECT event_type, CAST(t.p AS DOUBLE) AS p, CAST(v AS DOUBLE) AS value
          FROM r, unnest([0.01, 0.99]) AS t(p)
          WHERE rn = CAST(FLOOR(t.p * (n - 1)) AS BIGINT) + 1
        ), bounds AS (
          SELECT event_type,
                 MIN(CASE WHEN p = 0.01 THEN value END) AS lo,
                 MIN(CASE WHEN p = 0.99 THEN value END) AS hi
          FROM pct GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN e.value IS NOT NULL AND b.lo IS NOT NULL THEN
                 LEAST(GREATEST(
                   CAST(CAST(ROUND(e.value, 4) AS DECIMAL(19,4)) AS DOUBLE),
                   b.lo), b.hi)
               END AS winsorized
        FROM events e LEFT JOIN bounds b USING (event_type)
    """

    sql["events_session_windows"] = """
        WITH gaps AS (
          SELECT user_id, ts,
                 epoch(ts) - epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts)) AS gap
          FROM events
        ), flags AS (
          SELECT user_id, ts,
                 CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
                   AS new_session
          FROM gaps
        ), sess AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM flags
        )
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*)::BIGINT AS n_events
        FROM sess GROUP BY user_id, session_id
    """

    sql["sim_ranking_eval"] = f"""
        WITH scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 a.label AS ql, b.label AS nl, {_cos} AS cos_sim
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)::INT
              AS rank
          FROM scored
        ), top AS (
          SELECT query_id, rank, ql = nl AS rel FROM ranked WHERE rank <= 10
        ), m AS (
          SELECT query_id,
                 SUM(CASE WHEN rel THEN 1 ELSE 0 END)::BIGINT AS n_relevant,
                 SUM(CASE WHEN rel AND rank <= 5 THEN 1 ELSE 0 END)::BIGINT
                   AS hits_k,
                 MIN(CASE WHEN rel THEN rank END) AS first_rel
          FROM top GROUP BY query_id
        )
        SELECT query_id, n_relevant,
               ROUND(CASE WHEN n_relevant > 0
                     THEN hits_k / CAST(LEAST(n_relevant, 5) AS DOUBLE)
                     ELSE 0.0 END, 6) AS recall_at_k,
               ROUND(hits_k / 5.0, 6) AS precision_at_k,
               ROUND(CASE WHEN first_rel IS NOT NULL
                     THEN 1.0 / first_rel ELSE 0.0 END, 6)
                 AS reciprocal_rank
        FROM m
    """

    sql["quality_group_percentiles"] = """
        WITH r AS (
          SELECT event_type,
                 CAST(ROUND(value, 4) AS DECIMAL(19,4)) AS v,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(ROUND(value, 4) AS DECIMAL(19,4))) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events WHERE value IS NOT NULL
        )
        SELECT event_type, CAST(t.p AS DOUBLE) AS p,
               CAST(v AS DOUBLE) AS value
        FROM r, unnest([0.5, 0.95, 0.99]) AS t(p)
        WHERE rn = CAST(FLOOR(t.p * (n - 1)) AS BIGINT) + 1
    """

    sql["events_spike_detection"] = """
        WITH m AS (
          SELECT event_id, user_id, value,
                 CASE WHEN len(l2) > 0 THEN
                   CAST(list_sort(l2)[(len(l2) + 1) // 2] AS DOUBLE)
                 END AS rolling_median
          FROM (SELECT *, list_filter(l, x -> x IS NOT NULL) AS l2 FROM (
            SELECT event_id, user_id, value,
                   list(CAST(ROUND(value, 4) AS DECIMAL(19,4))) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS l
            FROM events
          ))
        )
        SELECT event_id, user_id, value, rolling_median
        FROM m
        WHERE rolling_median > 0 AND value > 3 * rolling_median
    """

    sql["text_feature_hashing"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        )
        SELECT doc_id,
               ({_H56.format(x="tok")} % 32)::INT AS bucket,
               COUNT(*)::BIGINT AS n
        FROM toks GROUP BY doc_id, bucket
    """

    sql["events_covisitation"] = """
        WITH gaps AS (
          SELECT user_id, ts, event_type,
                 epoch(ts) - epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts)) AS gap
          FROM events
        ), flags AS (
          SELECT user_id, ts, event_type,
                 CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
                   AS new_session
          FROM gaps
        ), sess AS (
          SELECT user_id, event_type,
                 SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM flags
        ), items AS (
          SELECT DISTINCT
                 user_id::VARCHAR || '#' || session_id::VARCHAR AS basket,
                 event_type AS item
          FROM sess
        )
        SELECT a.item AS item_a, b.item AS item_b,
               COUNT(*)::BIGINT AS support
        FROM items a JOIN items b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY a.item, b.item
        HAVING COUNT(*) >= 5
    """

    # Curriculum ordering: the text_quality_scores composite feeds
    # banding (floor of quality x 10 — quality is hash-exact between
    # engines, so the floor agrees bit-for-bit), H56 hash order.
    sql["quality_curriculum_order"] = f"""
        WITH base AS (
          SELECT doc_id,
                 len({_TOKS}) AS n_tok,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                 len(list_filter({_TOKS}, t -> lower(t) IN
                   ('the','and','of','to','a','in','is','it','you','that'))) AS stop_hits
          FROM documents
        ), ratios AS (
          SELECT doc_id, n_tok,
                 CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok::DOUBLE ELSE 0.0 END AS mwl,
                 CASE WHEN n_chars > 0 THEN n_punct / n_chars::DOUBLE ELSE 0.0 END AS pr,
                 CASE WHEN n_tok > 0 THEN stop_hits / n_tok::DOUBLE ELSE 0.0 END AS sr
          FROM base
        ), q AS (
          SELECT doc_id,
               ROUND(CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN mwl BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END
                   + CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END
                   + CASE WHEN sr >= 0.05 THEN 0.1 ELSE 0.0 END, 2) AS quality
          FROM ratios
        ), b AS (
          SELECT doc_id,
                 LEAST(9, FLOOR(quality * 10))::INT AS band,
                 ('0x' || substr(md5('curriculum' || doc_id::VARCHAR), 1, 14))::BIGINT
                   % 1000000 AS h
          FROM q
        )
        SELECT doc_id, band, (h % 16)::INT AS sub_bucket,
               row_number() OVER (
                 PARTITION BY band, h % 16 ORDER BY h, doc_id)::INT AS train_rank
        FROM b
    """

    # Interpolated bigram LM: lag window per doc, model tables joined
    # back; ln p rounds to 6 dp and DECIMAL-sums. (1.0 - 0.7) is
    # computed, not the literal 0.3 — bit-parity with the Spark side.
    sql["quality_bigram_logprob"] = f"""
        WITH toks AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), stream AS (
          SELECT doc_id, pos, tok,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM toks
        ), vocab AS (SELECT tok, COUNT(*)::BIGINT AS ucnt FROM toks GROUP BY tok),
        tot AS (SELECT SUM(ucnt)::BIGINT AS total FROM vocab),
        bi AS (SELECT prev, tok, COUNT(*)::BIGINT AS bcnt
               FROM stream WHERE prev IS NOT NULL GROUP BY prev, tok),
        ctx AS (SELECT prev, SUM(bcnt)::BIGINT AS ccnt FROM bi GROUP BY prev),
        lp AS (
          SELECT s.doc_id,
            ROUND(ln(
              CASE WHEN s.prev IS NULL
                   THEN v.ucnt::DOUBLE / tot.total::DOUBLE
                   ELSE 0.7 * (CASE WHEN b.bcnt IS NULL THEN 0.0
                               ELSE b.bcnt::DOUBLE / c.ccnt::DOUBLE END)
                        + (1.0 - 0.7) * (v.ucnt::DOUBLE / tot.total::DOUBLE)
              END), 6)::DECIMAL(18,6) AS lp
          FROM stream s JOIN vocab v USING (tok) CROSS JOIN tot
          LEFT JOIN bi b ON b.prev = s.prev AND b.tok = s.tok
          LEFT JOIN ctx c ON c.prev = s.prev
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               ROUND(SUM(lp)::DOUBLE / COUNT(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id
    """

    # Interpolated trigram perplexity, trained on the held-out
    # hash_sample half (salt 'lm', 500 permille) and scored over ALL
    # docs; unseen tokens take the 0.5/total OOV floor. The lambda
    # arithmetic is written as the same IEEE expressions the operator
    # evaluates in Python (1.0 - 0.6 - 0.3 and 0.6 + 0.3 - NOT the
    # decimal literals 0.1/0.9, which are different doubles). The CTE
    # chain through `scored` is shared with quality_ppl_gate below.
    _tri_scored = f"""
        toks AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), stream AS (
          SELECT doc_id, pos, tok,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
                 lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS prev2
          FROM toks
        ), tstream AS (
          SELECT * FROM stream
          WHERE (('0x' || substr(md5('lm' || doc_id::VARCHAR), 1, 14))::BIGINT % 1000) < 500
        ), vocab AS (SELECT tok, COUNT(*)::BIGINT AS ucnt FROM tstream GROUP BY tok),
        tot AS (SELECT SUM(ucnt)::BIGINT AS total FROM vocab),
        bi AS (SELECT prev, tok, COUNT(*)::BIGINT AS bcnt
               FROM tstream WHERE prev IS NOT NULL GROUP BY prev, tok),
        ctx AS (SELECT prev, SUM(bcnt)::BIGINT AS ccnt FROM bi GROUP BY prev),
        tri AS (SELECT prev2, prev, tok, COUNT(*)::BIGINT AS tcnt
                FROM tstream WHERE prev2 IS NOT NULL GROUP BY prev2, prev, tok),
        tctx AS (SELECT prev2, prev, SUM(tcnt)::BIGINT AS tctx
                 FROM tri GROUP BY prev2, prev),
        lp AS (
          SELECT s.doc_id,
            ROUND(ln(
              CASE WHEN s.prev IS NULL
                   THEN coalesce(v.ucnt::DOUBLE, 0.5) / tot.total::DOUBLE
                   WHEN s.prev2 IS NULL
                   THEN (0.6 + 0.3) * (CASE WHEN b.bcnt IS NULL THEN 0.0
                               ELSE b.bcnt::DOUBLE / c.ccnt::DOUBLE END)
                        + (1.0 - 0.6 - 0.3) * (coalesce(v.ucnt::DOUBLE, 0.5) / tot.total::DOUBLE)
                   ELSE 0.6 * (CASE WHEN tr.tcnt IS NULL THEN 0.0
                               ELSE tr.tcnt::DOUBLE / tc.tctx::DOUBLE END)
                        + 0.3 * (CASE WHEN b.bcnt IS NULL THEN 0.0
                               ELSE b.bcnt::DOUBLE / c.ccnt::DOUBLE END)
                        + (1.0 - 0.6 - 0.3) * (coalesce(v.ucnt::DOUBLE, 0.5) / tot.total::DOUBLE)
              END), 6)::DECIMAL(18,6) AS lp
          FROM stream s LEFT JOIN vocab v USING (tok) CROSS JOIN tot
          LEFT JOIN bi b ON b.prev = s.prev AND b.tok = s.tok
          LEFT JOIN ctx c ON c.prev = s.prev
          LEFT JOIN tri tr ON tr.prev2 = s.prev2 AND tr.prev = s.prev AND tr.tok = s.tok
          LEFT JOIN tctx tc ON tc.prev2 = s.prev2 AND tc.prev = s.prev
        ), agg AS (
          SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
                 ROUND(SUM(lp)::DOUBLE / COUNT(*), 6) AS avg_logprob
          FROM lp GROUP BY doc_id
        ), scored AS (
          SELECT doc_id, n_tokens, avg_logprob,
                 ROUND(exp(-avg_logprob), 4) AS ppl
          FROM agg
        )"""
    # DoReMi-ish domain reweighting: the scored chain -> per-domain
    # exact decimal NLL sums -> excess vs the corpus mean -> tempered
    # softmax of share*exp(excess). Expression order mirrors
    # quality.domain_reweight exactly (round before exp; 9dp decimal
    # raw weights before the exact normalizing sum).
    sql["quality_domain_reweight"] = f"""
        WITH {_tri_scored}, j AS (
          SELECT s.doc_id, d.source, s.avg_logprob
          FROM scored s JOIN documents d USING (doc_id)
        ), per AS (
          SELECT source, COUNT(*)::BIGINT AS n_docs,
                 SUM(avg_logprob::DECIMAL(28,6)) AS dsum
          FROM j GROUP BY source
        ), dtot AS (
          SELECT SUM(n_docs)::BIGINT AS dn, SUM(dsum) AS dts FROM per
        ), x AS (
          SELECT source, n_docs, dn,
                 ROUND(-(dsum::DOUBLE / n_docs), 6) AS mean_nll,
                 ROUND((-(dsum::DOUBLE / n_docs)) - (-(dts::DOUBLE / dn)), 6)
                   AS excess
          FROM per CROSS JOIN dtot
        ), raw AS (
          SELECT source, n_docs, mean_nll, excess,
                 ROUND((n_docs::DOUBLE / dn) * exp(excess / 1.0),
                       9)::DECIMAL(28,9) AS r
          FROM x
        ), s2 AS (SELECT SUM(r) AS sr FROM raw)
        SELECT source, n_docs, mean_nll, excess,
               ROUND(r::DOUBLE / sr::DOUBLE, 6) AS weight
        FROM raw CROSS JOIN s2
    """

    sql["quality_trigram_ppl"] = f"""
        WITH {_tri_scored}
        SELECT doc_id, n_tokens, avg_logprob, ppl FROM scored
    """

    # Perplexity band + heuristic gate composition: the shared trigram
    # chain, rank-banded (50 <= (r-1)*1000 // n < 900 over (ppl, id)
    # order), intersected with the lean token/repetition/contact gate.
    sql["quality_ppl_gate"] = f"""
        WITH {_tri_scored}, ranked AS (
          SELECT *,
                 (row_number() OVER (ORDER BY ppl, doc_id) - 1) * 1000 AS posk,
                 COUNT(*) OVER () AS n_all
          FROM scored
        ), banded AS (
          SELECT doc_id, n_tokens, avg_logprob, ppl FROM ranked
          WHERE posk // n_all >= 50 AND posk // n_all < 900
        ), gate AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   {_TOKS} AS gt,
                   len(regexp_extract_all(text, '{_email_re}'))
                   + len(regexp_extract_all(text, '{_url_re}')) AS contacts
            FROM documents)
          WHERE len(gt) >= 10
            AND ROUND(CASE WHEN len(gt) > 0
                      THEN 1.0 - len(list_distinct(gt))::DOUBLE / len(gt)
                      ELSE 0.0 END, 6) <= 0.5
            AND contacts <= 10
        )
        SELECT b.* FROM banded b SEMI JOIN gate g ON b.doc_id = g.doc_id
    """

    # Quality classifier: 8 unrolled logistic-regression iterations.
    # Per iteration: rounded margin -> rounded sigmoid -> per-doc
    # gradient terms rounded and DECIMAL-summed (order-independent) ->
    # round-6 gradient and weights — ops.quality_classifier_train's
    # exact contract. 19 = 3 engineered + 16 hashed features.
    clf_feat = f"""feat AS MATERIALIZED (
      SELECT doc_id, n,
        list_concat(
          [1.0,
           ROUND((CASE WHEN n > 0 THEN 1.0 - len(list_distinct(tk))::DOUBLE / n
                       ELSE 0.0 END) - 0.5, 6),
           ROUND(LEAST(n, 1000)::DOUBLE / 1000, 6)],
          list_transform(range(0, 16), b ->
            CASE WHEN n > 0
                 THEN ROUND(len(list_filter(hs, h -> h = b))::DOUBLE / n, 6)
                 ELSE 0.0 END)
        ) AS f,
        CASE WHEN n >= 10 AND n <= 100000 AND
          (CASE WHEN n > 0 THEN 1.0 - len(list_distinct(tk))::DOUBLE / n
                ELSE 0.0 END) <= 0.5
          THEN 1.0 ELSE 0.0 END AS y
      FROM (
        SELECT doc_id, tk, len(tk) AS n,
               list_transform(tk, t -> ('0x' || substr(md5(t),1,14))::BIGINT % 16) AS hs
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
      )
    ),
    nd AS (SELECT COUNT(*)::BIGINT AS n_docs FROM feat),
    wl0 AS (SELECT list_transform(range(0, 19), i -> 0.0) AS wl)"""
    clf_iters = []
    prev = "wl0"
    for r in range(1, 9):
        clf_iters.append(f"""g{r} AS (
          SELECT u.i AS pos,
                 ROUND(SUM(ROUND(pmy * f[u.i + 1], 6)::DECIMAL(18,6))::DOUBLE
                       / (SELECT n_docs FROM nd), 6) AS g
          FROM (
            SELECT f,
              ROUND(1.0/(1.0 + exp(-ROUND(list_sum(
                list_transform(range(1, 20), i -> f[i] * wl[i])), 6))), 6) - y AS pmy
            FROM feat CROSS JOIN {prev}
          ), unnest(range(0, 19)) AS u(i)
          GROUP BY u.i
        ), wl{r} AS MATERIALIZED (
          SELECT list(wn ORDER BY pos) AS wl FROM (
            SELECT u.i AS pos,
                   ROUND(p.wl[u.i + 1] - 4.0 * coalesce(g.g, 0.0), 6) AS wn
            FROM {prev} p, unnest(range(0, 19)) AS u(i)
            LEFT JOIN g{r} g ON g.pos = u.i
          )
        )""")
        prev = f"wl{r}"
    sql["quality_clf_weights"] = f"""
        WITH {clf_feat},
        {','.join(clf_iters)}
        SELECT CAST(u.i AS INT) AS pos, wl[u.i + 1] AS weight
        FROM wl8, unnest(range(0, 19)) AS u(i)
    """

    # Incremental dedup: batch-vs-index verdicts. Same normalized
    # content hash as dedup_exact_groups, same minhash/band contract
    # as dedup_minhash_lsh_pairs (mh_list/band_exprs above), semi-join
    # existence instead of pair generation.
    sql["dedup_incremental"] = f"""
        WITH idx AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        bat AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 100000, text FROM documents
          WHERE doc_id % 3 <> 0 AND doc_id < 5
          UNION ALL
          SELECT doc_id + 200000, text FROM documents
          WHERE doc_id % 3 = 0 AND doc_id < 7
        ),
        ih AS (SELECT DISTINCT
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS bh
               FROM idx),
        bhh AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS bh
                FROM bat),
        brn AS (SELECT doc_id, bh,
                  row_number() OVER (PARTITION BY bh ORDER BY doc_id) AS rn
                FROM bhh),
        i_sigs AS (
          SELECT doc_id, [{mh_list}] AS minhash FROM (
            SELECT doc_id,
                   list_transform({_sh}, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs
            FROM idx)
        ),
        b_sigs AS (
          SELECT doc_id, [{mh_list}] AS minhash FROM (
            SELECT doc_id,
                   list_transform({_sh}, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs
            FROM bat)
        ),
        ibanded AS (
          SELECT DISTINCT band_idx, band_hash FROM (
            SELECT unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash FROM i_sigs)
        ),
        bbanded AS (
          SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                 unnest([{band_exprs}]) AS band_hash FROM b_sigs
        ),
        near AS (SELECT DISTINCT b.doc_id
                 FROM bbanded b JOIN ibanded i USING (band_idx, band_hash))
        SELECT r.doc_id,
          CASE WHEN i.bh IS NOT NULL THEN 'exact_index'
               WHEN r.rn > 1 THEN 'exact_batch'
               WHEN n.doc_id IS NOT NULL THEN 'near_index'
               ELSE 'kept' END AS verdict
        FROM brn r LEFT JOIN ih i ON r.bh = i.bh
        LEFT JOIN near n ON r.doc_id = n.doc_id
    """

    # Incremental-ingest sink twin: the dedup_incremental verdict
    # machinery instantiated TWICE — round 2's index is round 1's
    # index plus round 1's admitted docs (the sink's growing-index
    # contract). _ing_verdicts emits one round's CTE chain.
    def _ing_verdicts(r: int, idx: str, bat: str) -> str:
        return f"""
        ih{r} AS (SELECT DISTINCT
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS bh
               FROM {idx}),
        bhh{r} AS (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS bh
                FROM {bat}),
        brn{r} AS (SELECT doc_id, bh,
                  row_number() OVER (PARTITION BY bh ORDER BY doc_id) AS rn
                FROM bhh{r}),
        i_sigs{r} AS (
          SELECT doc_id, [{mh_list}] AS minhash FROM (
            SELECT doc_id,
                   list_transform({_sh}, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs
            FROM {idx})
        ),
        b_sigs{r} AS (
          SELECT doc_id, [{mh_list}] AS minhash FROM (
            SELECT doc_id,
                   list_transform({_sh}, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs
            FROM {bat})
        ),
        ibanded{r} AS (
          SELECT DISTINCT band_idx, band_hash FROM (
            SELECT unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash FROM i_sigs{r})
        ),
        bbanded{r} AS (
          SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                 unnest([{band_exprs}]) AS band_hash FROM b_sigs{r}
        ),
        near{r} AS (SELECT DISTINCT b.doc_id
                 FROM bbanded{r} b JOIN ibanded{r} i USING (band_idx, band_hash)),
        verd{r} AS (
          SELECT r.doc_id,
            CASE WHEN i.bh IS NOT NULL THEN 'exact_index'
                 WHEN r.rn > 1 THEN 'exact_batch'
                 WHEN n.doc_id IS NOT NULL THEN 'near_index'
                 ELSE 'kept' END AS verdict
          FROM brn{r} r LEFT JOIN ih{r} i ON r.bh = i.bh
          LEFT JOIN near{r} n ON r.doc_id = n.doc_id)"""

    sql["stream_ingest_admission"] = f"""
        WITH idx AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        bat1 AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % 6 = 0),
        bat2 AS MATERIALIZED (
          SELECT doc_id, text FROM documents WHERE doc_id % 6 = 3
          UNION ALL
          SELECT doc_id + 300000, text FROM bat1 WHERE doc_id < 30),
        {_ing_verdicts(1, 'idx', 'bat1')},
        kept1 AS (SELECT doc_id FROM verd1 WHERE verdict = 'kept'),
        idx2 AS MATERIALIZED (
          SELECT doc_id, text FROM idx
          UNION ALL
          SELECT b.doc_id, b.text FROM bat1 b SEMI JOIN kept1 k
            ON b.doc_id = k.doc_id),
        {_ing_verdicts(2, 'idx2', 'bat2')}
        SELECT 1 AS batch_id, doc_id, verdict FROM verd1
        UNION ALL
        SELECT 2 AS batch_id, doc_id, verdict FROM verd2
    """

    # Stream-stream interval join twin: equi-join + two-sided time
    # bound, micro-exact timestamp comparison on both engines.
    sql["stream_interval_join"] = """
        SELECT p.user_id,
               p.event_id AS purchase_id,
               c.event_id AS click_id,
               CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS purchase_ts,
               CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS click_ts
        FROM events p JOIN events c ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """

    # Unigram LM score: per-token ln P rounded to 6 dp and summed as
    # DECIMAL (order-independent exact sum = the Spark side's
    # determinism contract), mean in double rounded to 6 dp.
    sql["quality_unigram_logprob"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ), vocab AS (
          SELECT tok, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY tok
        ), tot AS (
          SELECT SUM(cnt)::BIGINT AS total FROM vocab
        ), lp AS (
          SELECT t.doc_id,
                 ROUND(ln(v.cnt::DOUBLE / tot.total::DOUBLE), 6)::DECIMAL(18,6) AS lp
          FROM toks t JOIN vocab v USING (tok), tot
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               ROUND(SUM(lp)::DOUBLE / COUNT(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id
    """

    # k-means: 3 unrolled Lloyd's iterations (pagerank-style CTE chain;
    # MATERIALIZED so multiply-referenced frames don't inline
    # exponentially). Distances round to 6 with cent_id tiebreaks and
    # centroid components round each iteration — the same determinism
    # contract as ops.similarity.kmeans_centroids, so assignments agree
    # bit-for-bit. DuckDB lists are 1-based; pos-1 matches posexplode.
    km_iters = []
    prev = "c0"
    for t in range(1, 4):
        km_iters.append(f"""s{t} AS (
          SELECT vec_id, vec, cent_id,
                 ROUND(list_sum(list_transform(range(1, 65),
                   i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i]))), 6) AS dist
          FROM v CROSS JOIN {prev}
        ), a{t} AS MATERIALIZED (
          SELECT vec_id, vec, cent_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
            FROM s{t}
          ) WHERE rn = 1
        ), c{t} AS MATERIALIZED (
          SELECT cent_id, list(val ORDER BY pos) AS cvec FROM (
            SELECT cent_id, pos, ROUND(AVG(vec[pos]), 6) AS val
            FROM a{t} CROSS JOIN dims GROUP BY cent_id, pos
          ) GROUP BY cent_id
        )""")
        prev = f"c{t}"
    km_body = ",\n".join(km_iters)
    sql["sim_kmeans_centroids"] = f"""
        WITH v AS MATERIALIZED (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        dims AS (SELECT unnest(range(1, 65)) AS pos),
        c0 AS MATERIALIZED (
          SELECT vec_id AS cent_id, vec AS cvec FROM v ORDER BY vec_id LIMIT 4
        ),
        {km_body},
        members AS (
          SELECT cent_id, COUNT(*)::BIGINT AS n_members FROM a3 GROUP BY cent_id
        )
        SELECT c.cent_id, (d.pos - 1)::INT AS pos, c.cvec[d.pos] AS value,
               coalesce(m.n_members, 0)::BIGINT AS n_members
        FROM c3 c CROSS JOIN dims d LEFT JOIN members m USING (cent_id)
    """

    sql["mm_frame_sample"] = """
        WITH b AS (
          SELECT doc_id, octet_length(encode(text))::INT AS n_bytes,
                 least(greatest(octet_length(encode(text)) // 64, 1), 8) AS n_frames
          FROM documents
        )
        SELECT doc_id, n_bytes, unnest(range(n_frames))::INT AS frame_idx,
               (unnest(range(n_frames)) * 64)::INT AS byte_offset
        FROM b
    """

    # Kneser-Ney: the backoff P_cont and the discounted main term are
    # evaluated in EXACTLY the operator's expression order; the
    # never-continues floor is COALESCE(n_prev, 0.5) — same coalesce
    # the Spark side evaluates before the division
    sql["quality_kn_logprob"] = f"""
        WITH toks AS (
          SELECT doc_id, i - 1 AS pos, tk[i] AS tok
          FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
               unnest(range(1, len(tk) + 1)) AS t(i)
        ), stream AS (
          SELECT doc_id, pos, tok,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM toks
        ), bi AS (SELECT prev, tok, COUNT(*)::BIGINT AS bcnt
                  FROM stream WHERE prev IS NOT NULL GROUP BY prev, tok),
        ctx AS (SELECT prev, SUM(bcnt)::BIGINT AS ccnt,
                       COUNT(*)::BIGINT AS n_types FROM bi GROUP BY prev),
        cont AS (SELECT tok, COUNT(*)::BIGINT AS n_prev FROM bi GROUP BY tok),
        nbig AS (SELECT COUNT(*)::BIGINT AS nb FROM bi),
        lp AS (
          SELECT s.doc_id,
            ROUND(ln(
              CASE WHEN s.prev IS NULL
                   THEN COALESCE(ct.n_prev::DOUBLE, 0.5) / nbig.nb::DOUBLE
                   ELSE (GREATEST(b.bcnt::DOUBLE - 0.75, 0.0)
                           / c.ccnt::DOUBLE)
                        + ((0.75 * c.n_types::DOUBLE) / c.ccnt::DOUBLE)
                          * (COALESCE(ct.n_prev::DOUBLE, 0.5)
                               / nbig.nb::DOUBLE)
              END), 6)::DECIMAL(18,6) AS lp
          FROM stream s
          LEFT JOIN cont ct ON ct.tok = s.tok
          CROSS JOIN nbig
          LEFT JOIN bi b ON b.prev = s.prev AND b.tok = s.tok
          LEFT JOIN ctx c ON c.prev = s.prev
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               -- exact half-up division in integer micro-units: doc 236
               -- lands exactly on a 6-dp .5 boundary where double
               -- rounding splits the engines (Spark matches via exact
               -- decimal division)
               (CASE WHEN SUM(lp) < 0
                     THEN -((((-(SUM(lp) * 1000000))::HUGEINT) * 2
                              + COUNT(*)) // (2 * COUNT(*)))
                     ELSE (((SUM(lp) * 1000000)::HUGEINT) * 2
                            + COUNT(*)) // (2 * COUNT(*))
                END) / 1000000.0 AS avg_logprob
        FROM lp GROUP BY doc_id
    """

    # sweep-line concurrency: the same 30-min gap sessionization the
    # green session_windows oracle uses, then one global ordered sum
    # (ts, delta, user) — end-exclusive because -1 < +1 at equal ts
    sql["events_concurrency"] = """
        WITH gaps AS (
          SELECT user_id, ts,
                 epoch(ts) - epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts)) AS gap
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ), flags AS (
          SELECT user_id, ts,
                 CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END
                   AS new_session
          FROM gaps
        ), sess AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sid
          FROM flags
        ), sessions AS (
          SELECT user_id AS "user", MIN(ts) AS s,
                 MAX(ts) + INTERVAL 30 MINUTE AS e
          FROM sess GROUP BY user_id, sid
        ), bounds AS (
          SELECT s AS ts, 1::BIGINT AS delta, "user" FROM sessions
          UNION ALL
          SELECT e AS ts, (-1)::BIGINT AS delta, "user" FROM sessions
        )
        SELECT ts, delta, "user",
               SUM(delta) OVER (ORDER BY ts, delta, "user"
                                ROWS UNBOUNDED PRECEDING)::BIGINT
                 AS concurrent
        FROM bounds
    """

    # CUSUM: B*c - T is exact HUGEINT (Spark: decimal(38,0)); only the
    # OUTPUT casts to BIGINT
    sql["events_cusum_changepoint"] = """
        WITH counts AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 COUNT(*)::BIGINT AS c
          FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2
        ), totals AS (
          SELECT event_type, SUM(c)::BIGINT AS t,
                 COUNT(*)::BIGINT AS n_buckets
          FROM counts GROUP BY 1
        ), scored AS (
          SELECT c.event_type, c.bucket, t2.n_buckets, t2.t,
                 ABS(SUM(t2.n_buckets::HUGEINT * c.c - t2.t) OVER (
                   PARTITION BY c.event_type ORDER BY c.bucket
                   ROWS UNBOUNDED PRECEDING)) AS s_abs
          FROM counts c JOIN totals t2 USING (event_type)
        ), pick AS (
          SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY s_abs DESC, bucket) AS rn
          FROM scored
        )
        SELECT event_type, bucket AS change_ts, s_abs::BIGINT AS cusum_abs,
               n_buckets, t AS total
        FROM pick WHERE rn = 1
    """

    # two-proportion z: every double evaluates in the operator's
    # expression order — pooled = (c0+c1)/(n0+n1), then
    # (pooled*(1-pooled))*(1/n0 + 1/n1)
    sql["events_ab_ztest"] = f"""
        WITH per_user AS (
          SELECT user_id AS u,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ), v AS (
          SELECT u, conv, {_H56.format(x="u::VARCHAR")} % 2 AS variant
          FROM per_user
        ), agg AS (
          SELECT SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_control,
                 SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)::BIGINT
                   AS conv_control,
                 SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_treatment,
                 SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)::BIGINT
                   AS conv_treatment
          FROM v
        )
        SELECT n_control, conv_control, n_treatment, conv_treatment,
               ROUND(conv_control::DOUBLE / n_control::DOUBLE, 6)
                 AS rate_control,
               ROUND(conv_treatment::DOUBLE / n_treatment::DOUBLE, 6)
                 AS rate_treatment,
               ROUND(((conv_treatment::DOUBLE / n_treatment::DOUBLE)
                       - (conv_control::DOUBLE / n_control::DOUBLE))
                     / sqrt((((conv_control::DOUBLE + conv_treatment::DOUBLE)
                               / (n_control::DOUBLE + n_treatment::DOUBLE))
                             * (1.0 - ((conv_control::DOUBLE
                                         + conv_treatment::DOUBLE)
                                        / (n_control::DOUBLE
                                            + n_treatment::DOUBLE))))
                            * (1.0 / n_control::DOUBLE
                                + 1.0 / n_treatment::DOUBLE)), 6) AS z
        FROM agg
    """

    # order-free checksum: canonical stringification must be
    # engine-identical — ints/dates/decimals only (the query pre-casts
    # the double price to decimal(18,2) and the timestamp to date).
    # Each value is delimiter-escaped (\, |, < -> \-prefixed) before
    # the '|' join, mirroring table_checksum's canonicalization.
    def _esc(x: str) -> str:
        return (
            rf"COALESCE(regexp_replace({x}, '([\\|<])', '\\\0', 'g'),"
            " '<NULL>')"
        )

    _row_canon = (
        "concat_ws('|', "
        + ", ".join(
            _esc(x)
            for x in (
                "o_orderkey::VARCHAR",
                "o_custkey::VARCHAR",
                "o_orderstatus",
                "(ROUND(o_totalprice, 2)::DECIMAL(18,2))::VARCHAR",
                "(o_orderdate::DATE)::VARCHAR",
            )
        )
        + ")"
    )
    sql["etl_table_checksum"] = f"""
        WITH t AS (
          SELECT o_orderpriority,
                 {_H56.format(x=_row_canon)} AS h
          FROM orders
        )
        SELECT o_orderpriority, COUNT(*)::BIGINT AS n_rows,
               (SUM(h::HUGEINT) % 2305843009213693951)::BIGINT AS checksum
        FROM t GROUP BY o_orderpriority
    """

    # brand assortativity: q evaluates as e/m - t*t with
    # t = d/(2m), the operator's exact expression order
    sql["graph_modularity"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), m AS (SELECT COUNT(*)::BIGINT AS m FROM e),
        labeled AS (
          SELECT e.src, e.dst, ps.p_brand AS cs, pd.p_brand AS cd
          FROM e LEFT JOIN part ps ON e.src = ps.p_partkey
                 LEFT JOIN part pd ON e.dst = pd.p_partkey
        ), deg AS (
          SELECT community, COUNT(*)::BIGINT AS degree_sum FROM (
            SELECT cs AS community FROM labeled
            UNION ALL SELECT cd FROM labeled
          ) WHERE community IS NOT NULL GROUP BY community
        ), inner_e AS (
          SELECT cs AS community, COUNT(*)::BIGINT AS inner_edges
          FROM labeled WHERE cs IS NOT NULL AND cs = cd GROUP BY cs
        ), nodes AS (
          SELECT p.p_brand AS community, COUNT(*)::BIGINT AS n_nodes
          FROM (SELECT src AS id FROM e UNION SELECT dst FROM e) n
          JOIN part p ON n.id = p.p_partkey GROUP BY p.p_brand
        )
        SELECT nodes.community, n_nodes,
               COALESCE(inner_edges, 0)::BIGINT AS inner_edges,
               COALESCE(degree_sum, 0)::BIGINT AS degree_sum,
               ROUND(COALESCE(inner_edges, 0)::DOUBLE / m.m::DOUBLE
                     - (degree_sum::DOUBLE / (2.0 * m.m::DOUBLE))
                       * (degree_sum::DOUBLE / (2.0 * m.m::DOUBLE)), 6)
                 AS q
        FROM nodes LEFT JOIN deg USING (community)
        LEFT JOIN inner_e USING (community)
        CROSS JOIN m
    """

    # Louvain move: exact-integer removal-adjusted gains, HUGEINT
    # products (Spark: decimal(38,0)); stay-then-smaller-label ties
    sql["graph_louvain_move"] = """
        WITH e0 AS (
          SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), comm AS (
          SELECT p_partkey AS node, p_brand AS c FROM part
        ), e AS (
          SELECT e0.s, e0.d, cs.c AS cs, cd.c AS cd
          FROM e0 JOIN comm cs ON e0.s = cs.node
                  JOIN comm cd ON e0.d = cd.node
        ), m AS (SELECT COUNT(*)::BIGINT AS m FROM e),
        deg AS (
          SELECT node, COUNT(*)::BIGINT AS k FROM (
            SELECT s AS node FROM e UNION ALL SELECT d FROM e
          ) GROUP BY node
        ), tot AS (
          SELECT c, SUM(k)::BIGINT AS tot
          FROM deg JOIN comm USING (node) GROUP BY c
        ), kic0 AS (
          SELECT node, c, COUNT(*)::BIGINT AS kic FROM (
            SELECT s AS node, cd AS c FROM e
            UNION ALL SELECT d, cs FROM e
          ) GROUP BY node, c
        ), own AS (
          SELECT deg.node, comm.c, 0::BIGINT AS kic
          FROM deg JOIN comm USING (node)
        ), cand AS (
          SELECT node, c, MAX(kic)::BIGINT AS kic FROM (
            SELECT * FROM kic0 UNION ALL SELECT * FROM own
          ) GROUP BY node, c
        ), cur AS (SELECT node, c AS cur FROM comm),
        scored AS (
          SELECT cand.node, cand.c, cur.cur,
                 (2 * m.m)::HUGEINT * cand.kic
                   - deg.k::HUGEINT
                     * (CASE WHEN cand.c = cur.cur
                             THEN tot.tot - deg.k ELSE tot.tot END)
                   AS score
          FROM cand JOIN deg USING (node) JOIN cur USING (node)
          JOIN tot ON tot.c = cand.c CROSS JOIN m
        ), pick AS (
          SELECT *, row_number() OVER (
            PARTITION BY node
            ORDER BY score DESC, (c = cur) DESC, c ASC) AS rn
          FROM scored
        )
        SELECT node AS id, cur AS old_community, c AS new_community,
               (c <> cur) AS moved
        FROM pick WHERE rn = 1
    """

    # Louvain full loop: the SAME move round unrolled 3 times (deg and
    # m are round-invariant — part labels every node, so the labeled
    # edge set is the full edge set each round); comm_r applies only
    # the SEMI-SYNCHRONOUS half — picks whose (h56(node)+round) parity
    # matches and that actually move — coalesced over comm_{r-1},
    # exactly as the Spark loop does. A converged parity pair
    # reproduces itself, so the Spark side's two-zero-rounds early
    # stop is result-identical to this full unroll.
    lv_rounds = []
    for r in range(1, 4):
        p = r - 1
        lv_rounds.append(f"""tot_{r} AS (
          SELECT c, SUM(k)::BIGINT AS tot
          FROM deg JOIN comm_{p} USING (node) GROUP BY c
        ), lab_{r} AS (
          SELECT e0.s, e0.d, cs.c AS cs, cd.c AS cd
          FROM e0 JOIN comm_{p} cs ON e0.s = cs.node
                  JOIN comm_{p} cd ON e0.d = cd.node
        ), cand_{r} AS (
          SELECT node, c, MAX(kic)::BIGINT AS kic FROM (
            SELECT node, c, COUNT(*)::BIGINT AS kic FROM (
              SELECT s AS node, cd AS c FROM lab_{r}
              UNION ALL SELECT d, cs FROM lab_{r}
            ) GROUP BY node, c
            UNION ALL
            SELECT deg.node, comm_{p}.c, 0::BIGINT
            FROM deg JOIN comm_{p} USING (node)
          ) GROUP BY node, c
        ), mv_{r} AS MATERIALIZED (
          SELECT node, cur, c FROM (
            SELECT cand_{r}.node, cand_{r}.c, cur.c AS cur,
                   (2 * m.m)::HUGEINT * cand_{r}.kic
                     - deg.k::HUGEINT
                       * (CASE WHEN cand_{r}.c = cur.c
                               THEN tot_{r}.tot - deg.k
                               ELSE tot_{r}.tot END) AS score,
                   row_number() OVER (
                     PARTITION BY cand_{r}.node
                     ORDER BY (2 * m.m)::HUGEINT * cand_{r}.kic
                                - deg.k::HUGEINT
                                  * (CASE WHEN cand_{r}.c = cur.c
                                          THEN tot_{r}.tot - deg.k
                                          ELSE tot_{r}.tot END) DESC,
                              (cand_{r}.c = cur.c) DESC,
                              cand_{r}.c ASC) AS rn
            FROM cand_{r}
            JOIN deg ON deg.node = cand_{r}.node
            JOIN comm_{p} cur ON cur.node = cand_{r}.node
            JOIN tot_{r} ON tot_{r}.c = cand_{r}.c
            CROSS JOIN m
          ) WHERE rn = 1 AND c <> cur
            AND ((('0x' || substr(md5(node::VARCHAR), 1, 14))::BIGINT
                  + {p}) % 2) = 0
        ), pick_{r} AS (
          -- 2-cycle breaker (r14): reciprocal community transfers in
          -- the same round keep only the into-the-smaller-label leg
          SELECT mv.node, mv.c FROM mv_{r} mv
          LEFT JOIN (SELECT DISTINCT cur AS ro, c AS rn2 FROM mv_{r}) x
            ON mv.c = x.ro AND mv.cur = x.rn2
          WHERE x.ro IS NULL OR mv.c < mv.cur
        ), comm_{r} AS MATERIALIZED (
          SELECT comm_{p}.node, COALESCE(pick_{r}.c, comm_{p}.c) AS c
          FROM comm_{p} LEFT JOIN pick_{r} USING (node)
        )""")
    lv_body = ",\n        ".join(lv_rounds)
    sql["graph_louvain_communities"] = f"""
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), comm_0 AS (
          SELECT p_partkey AS node, p_brand AS c FROM part
        ), m AS (SELECT COUNT(*)::BIGINT AS m FROM e0),
        deg AS MATERIALIZED (
          SELECT node, COUNT(*)::BIGINT AS k FROM (
            SELECT s AS node FROM e0 UNION ALL SELECT d FROM e0
          ) GROUP BY node
        ),
        {lv_body}
        SELECT node AS id, c AS community FROM comm_3
    """

    # Louvain phase 2 (VERDICT r12 #4): contraction of the brand
    # partition — exact integer weights, canonical orientation,
    # self-loops kept (they are the next level's inner-edge mass)
    sql["graph_louvain_coarsen"] = """
        WITH e0 AS (
          SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), comm AS (
          SELECT p_partkey AS node, p_brand AS c FROM part
        )
        SELECT LEAST(cs.c, cd.c) AS c_src,
               GREATEST(cs.c, cd.c) AS c_dst,
               COUNT(*)::BIGINT AS weight
        FROM e0 JOIN comm cs ON e0.s = cs.node
                JOIN comm cd ON e0.d = cd.node
        GROUP BY 1, 2
    """

    # Two-level Louvain: move -> contract -> move, fully unrolled.
    # One WEIGHT-AWARE round template serves both levels (the fine
    # level rides w = 1, the coarse level the contraction weights);
    # same scoring/parity/tie conventions as graph_louvain_communities.
    def _lv_round(r: int, pfx: str) -> str:
        p = r - 1
        return f"""{pfx}tot_{r} AS (
          SELECT c, SUM(k)::BIGINT AS tot
          FROM {pfx}deg JOIN {pfx}comm_{p} USING (node) GROUP BY c
        ), {pfx}lab_{r} AS (
          SELECT e.s, e.d, e.w, cs.c AS cs, cd.c AS cd
          FROM {pfx}e0 e JOIN {pfx}comm_{p} cs ON e.s = cs.node
                         JOIN {pfx}comm_{p} cd ON e.d = cd.node
        ), {pfx}cand_{r} AS (
          -- self-loops excluded from k_ic (kept in m/deg): their mass
          -- moves WITH the node, standard Louvain — mirrors the r14
          -- louvain_move fix (ADVICE r13 high)
          SELECT node, c, MAX(kic)::BIGINT AS kic FROM (
            SELECT node, c, SUM(w)::BIGINT AS kic FROM (
              SELECT s AS node, cd AS c, w FROM {pfx}lab_{r} WHERE s <> d
              UNION ALL SELECT d, cs, w FROM {pfx}lab_{r} WHERE s <> d
            ) GROUP BY node, c
            UNION ALL
            SELECT {pfx}deg.node, {pfx}comm_{p}.c, 0::BIGINT
            FROM {pfx}deg JOIN {pfx}comm_{p} USING (node)
          ) GROUP BY node, c
        ), {pfx}mv_{r} AS MATERIALIZED (
          SELECT node, cur, c FROM (
            SELECT {pfx}cand_{r}.node, {pfx}cand_{r}.c, cur.c AS cur,
                   row_number() OVER (
                     PARTITION BY {pfx}cand_{r}.node
                     ORDER BY (2 * {pfx}m.m)::HUGEINT * {pfx}cand_{r}.kic
                                - {pfx}deg.k::HUGEINT
                                  * (CASE WHEN {pfx}cand_{r}.c = cur.c
                                          THEN {pfx}tot_{r}.tot - {pfx}deg.k
                                          ELSE {pfx}tot_{r}.tot END) DESC,
                              ({pfx}cand_{r}.c = cur.c) DESC,
                              {pfx}cand_{r}.c ASC) AS rn
            FROM {pfx}cand_{r}
            JOIN {pfx}deg ON {pfx}deg.node = {pfx}cand_{r}.node
            JOIN {pfx}comm_{p} cur ON cur.node = {pfx}cand_{r}.node
            JOIN {pfx}tot_{r} ON {pfx}tot_{r}.c = {pfx}cand_{r}.c
            CROSS JOIN {pfx}m
          ) WHERE rn = 1 AND c <> cur
            AND ((('0x' || substr(md5(node::VARCHAR), 1, 14))::BIGINT
                  + {p}) % 2) = 0
        ), {pfx}pick_{r} AS (
          -- 2-cycle breaker (r14): reciprocal community transfers in
          -- the same round keep only the into-the-smaller-label leg
          SELECT mv.node, mv.c FROM {pfx}mv_{r} mv
          LEFT JOIN (SELECT DISTINCT cur AS ro, c AS rn2 FROM {pfx}mv_{r}) x
            ON mv.c = x.ro AND mv.cur = x.rn2
          WHERE x.ro IS NULL OR mv.c < mv.cur
        ), {pfx}comm_{r} AS MATERIALIZED (
          SELECT {pfx}comm_{p}.node, COALESCE({pfx}pick_{r}.c, {pfx}comm_{p}.c) AS c
          FROM {pfx}comm_{p} LEFT JOIN {pfx}pick_{r} USING (node)
        )"""

    fine = ",\n        ".join(_lv_round(r, "") for r in (1, 2))
    coarse = ",\n        ".join(_lv_round(r, "c") for r in (1, 2))
    sql["graph_louvain_two_level"] = f"""
        WITH e0 AS MATERIALIZED (
          SELECT s, d, 1::BIGINT AS w FROM (
            SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
            FROM (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE year(l_shipdate) = 1995) a
            JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE year(l_shipdate) = 1995) b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          )
        ), comm_0 AS (
          SELECT p_partkey AS node, p_brand AS c FROM part
        ), m AS (SELECT SUM(w)::BIGINT AS m FROM e0),
        deg AS MATERIALIZED (
          SELECT node, SUM(w)::BIGINT AS k FROM (
            SELECT s AS node, w FROM e0 UNION ALL SELECT d, w FROM e0
          ) GROUP BY node
        ),
        {fine},
        ce0 AS MATERIALIZED (
          SELECT LEAST(cs.c, cd.c) AS s, GREATEST(cs.c, cd.c) AS d,
                 SUM(e.w)::BIGINT AS w
          FROM e0 e JOIN comm_2 cs ON e.s = cs.node
                    JOIN comm_2 cd ON e.d = cd.node
          GROUP BY 1, 2
        ), ccomm_0 AS (
          SELECT DISTINCT node, node AS c FROM (
            SELECT s AS node FROM ce0 UNION ALL SELECT d FROM ce0
          )
        ), cm AS (SELECT SUM(w)::BIGINT AS m FROM ce0),
        cdeg AS MATERIALIZED (
          SELECT node, SUM(w)::BIGINT AS k FROM (
            SELECT s AS node, w FROM ce0 UNION ALL SELECT d, w FROM ce0
          ) GROUP BY node
        ),
        {coarse}
        SELECT comm_2.node AS id, COALESCE(cc.c, comm_2.c) AS community
        FROM comm_2 LEFT JOIN ccomm_2 cc ON comm_2.c = cc.node
    """

    # N-level Louvain (VERDICT r13 #6): the two-level unroll extended
    # by a SECOND contraction and a third singleton-seeded move level
    # (prefix "cc"); the Spark side's zero-move early stop is
    # result-identical because a stalled singleton-seeded level is the
    # identity labeling (see louvain_multilevel's docstring proof).
    level3 = ",\n        ".join(_lv_round(r, "cc") for r in (1, 2))
    sql["graph_louvain_multilevel"] = f"""
        WITH e0 AS MATERIALIZED (
          SELECT s, d, 1::BIGINT AS w FROM (
            SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
            FROM (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE year(l_shipdate) = 1995) a
            JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE year(l_shipdate) = 1995) b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          )
        ), comm_0 AS (
          SELECT p_partkey AS node, p_brand AS c FROM part
        ), m AS (SELECT SUM(w)::BIGINT AS m FROM e0),
        deg AS MATERIALIZED (
          SELECT node, SUM(w)::BIGINT AS k FROM (
            SELECT s AS node, w FROM e0 UNION ALL SELECT d, w FROM e0
          ) GROUP BY node
        ),
        {fine},
        ce0 AS MATERIALIZED (
          SELECT LEAST(cs.c, cd.c) AS s, GREATEST(cs.c, cd.c) AS d,
                 SUM(e.w)::BIGINT AS w
          FROM e0 e JOIN comm_2 cs ON e.s = cs.node
                    JOIN comm_2 cd ON e.d = cd.node
          GROUP BY 1, 2
        ), ccomm_0 AS (
          SELECT DISTINCT node, node AS c FROM (
            SELECT s AS node FROM ce0 UNION ALL SELECT d FROM ce0
          )
        ), cm AS (SELECT SUM(w)::BIGINT AS m FROM ce0),
        cdeg AS MATERIALIZED (
          SELECT node, SUM(w)::BIGINT AS k FROM (
            SELECT s AS node, w FROM ce0 UNION ALL SELECT d, w FROM ce0
          ) GROUP BY node
        ),
        {coarse},
        cce0 AS MATERIALIZED (
          SELECT LEAST(cs.c, cd.c) AS s, GREATEST(cs.c, cd.c) AS d,
                 SUM(e.w)::BIGINT AS w
          FROM ce0 e JOIN ccomm_2 cs ON e.s = cs.node
                     JOIN ccomm_2 cd ON e.d = cd.node
          GROUP BY 1, 2
        ), cccomm_0 AS (
          SELECT DISTINCT node, node AS c FROM (
            SELECT s AS node FROM cce0 UNION ALL SELECT d FROM cce0
          )
        ), ccm AS (SELECT SUM(w)::BIGINT AS m FROM cce0),
        ccdeg AS MATERIALIZED (
          SELECT node, SUM(w)::BIGINT AS k FROM (
            SELECT s AS node, w FROM cce0 UNION ALL SELECT d, w FROM cce0
          ) GROUP BY node
        ),
        {level3},
        lvl2 AS (
          SELECT comm_2.node, COALESCE(cc.c, comm_2.c) AS c
          FROM comm_2 LEFT JOIN ccomm_2 cc ON comm_2.c = cc.node
        )
        SELECT lvl2.node AS id, COALESCE(l3.c, lvl2.c) AS community
        FROM lvl2 LEFT JOIN cccomm_2 l3 ON lvl2.c = l3.node
    """

    # MMR: unrolled greedy steps — sel_1 is pure relevance, each later
    # step re-ranks the un-picked candidates by
    # 0.7*rel - (1.0-0.7)*max_sim_to_selected
    mmr_steps = []
    for j in range(2, 6):
        mmr_steps.append(
            f"""sel_{j} AS MATERIALIZED (
          SELECT query_id, {j} AS step, neighbor_id,
                 ROUND(score, 6) AS mmr_score
          FROM (
            SELECT c.query_id, c.neighbor_id,
                   0.7 * c.cos_sim - (1.0 - 0.7) * m.ms AS score,
                   row_number() OVER (
                     PARTITION BY c.query_id
                     ORDER BY (0.7 * c.cos_sim - (1.0 - 0.7) * m.ms) DESC,
                              c.neighbor_id) AS rn
            FROM cands c
            JOIN (SELECT p.query_id, p.nid_a AS neighbor_id,
                         MAX(p.sim) AS ms
                  FROM pair p JOIN all_{j - 1} s
                    ON p.query_id = s.query_id AND p.nid_b = s.neighbor_id
                  GROUP BY 1, 2) m
              ON c.query_id = m.query_id AND c.neighbor_id = m.neighbor_id
            WHERE NOT EXISTS (SELECT 1 FROM all_{j - 1} s
                              WHERE s.query_id = c.query_id
                                AND s.neighbor_id = c.neighbor_id)
          ) WHERE rn = 1
        ),
        all_{j} AS (SELECT * FROM all_{j - 1}
                    UNION ALL SELECT query_id, neighbor_id FROM sel_{j})"""
        )
    mmr_body = ",\n        ".join(mmr_steps)
    sql["sim_mmr_rerank"] = f"""
        WITH cscored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {_cos} AS cos_sim
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ),
        cands AS MATERIALIZED (
          SELECT query_id, neighbor_id, cos_sim FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
            FROM cscored
          ) WHERE rn <= 20
        ),
        pair AS MATERIALIZED (
          SELECT ca.query_id, ca.neighbor_id AS nid_a,
                 cb.neighbor_id AS nid_b,
                 ROUND(list_dot_product(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                              a.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(b.embedding::DOUBLE[],
                                              b.embedding::DOUBLE[]))), 4)
                   AS sim
          FROM cands ca
          JOIN cands cb ON ca.query_id = cb.query_id
                       AND ca.neighbor_id <> cb.neighbor_id
          JOIN embeddings a ON a.vec_id = ca.neighbor_id
          JOIN embeddings b ON b.vec_id = cb.neighbor_id
        ),
        sel_1 AS MATERIALIZED (
          SELECT query_id, 1 AS step, neighbor_id,
                 ROUND(score, 6) AS mmr_score
          FROM (
            SELECT query_id, neighbor_id,
                   0.7 * cos_sim - (1.0 - 0.7) * 0.0 AS score,
                   row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY (0.7 * cos_sim - (1.0 - 0.7) * 0.0) DESC,
                              neighbor_id) AS rn
            FROM cands
          ) WHERE rn = 1
        ),
        all_1 AS (SELECT query_id, neighbor_id FROM sel_1),
        {mmr_body}
        SELECT * FROM sel_1
        UNION ALL SELECT * FROM sel_2
        UNION ALL SELECT * FROM sel_3
        UNION ALL SELECT * FROM sel_4
        UNION ALL SELECT * FROM sel_5
    """

    # binary Hamming search: 32-bit words pack as exact power-of-two
    # sums (no sign-bit wraparound); distances are exact integers
    sql["sim_hamming_topk"] = """
        WITH packed AS (
          SELECT vec_id,
            list_sum(list_transform(range(0, 32),
              i -> CASE WHEN embedding[i + 1] > 0
                        THEN pow(2, i)::BIGINT ELSE 0 END))::BIGINT AS w0,
            list_sum(list_transform(range(32, 64),
              i -> CASE WHEN embedding[i + 1] > 0
                        THEN pow(2, i - 32)::BIGINT ELSE 0 END))::BIGINT AS w1
          FROM embeddings
        ), scored AS (
          SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                 (bit_count(xor(d.w0, q.w0))
                  + bit_count(xor(d.w1, q.w1)))::BIGINT AS hamming
          FROM packed q JOIN packed d
            ON q.vec_id < 10 AND d.vec_id <> q.vec_id
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, neighbor_id)::INT AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, hamming, rank FROM ranked
        WHERE rank <= 5
    """

    # binary-prefilter -> exact-rerank cascade: the hamming CTE chain
    # is the sim_hamming_topk oracle at the 20-candidate shortlist,
    # then exact cosine re-ranks the shortlist to top-5
    sql["sim_binary_rerank"] = f"""
        WITH packed AS (
          SELECT vec_id,
            list_sum(list_transform(range(0, 32),
              i -> CASE WHEN embedding[i + 1] > 0
                        THEN pow(2, i)::BIGINT ELSE 0 END))::BIGINT AS w0,
            list_sum(list_transform(range(32, 64),
              i -> CASE WHEN embedding[i + 1] > 0
                        THEN pow(2, i - 32)::BIGINT ELSE 0 END))::BIGINT AS w1
          FROM embeddings
        ), hscored AS (
          SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                 (bit_count(xor(d.w0, q.w0))
                  + bit_count(xor(d.w1, q.w1)))::BIGINT AS hamming
          FROM packed q JOIN packed d
            ON q.vec_id < 10 AND d.vec_id <> q.vec_id
        ), hranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, neighbor_id)::INT AS hrank
          FROM hscored
        ), shortlist AS (
          SELECT query_id, neighbor_id, hamming FROM hranked WHERE hrank <= 20
        ), rescored AS (
          SELECT s.query_id, s.neighbor_id, s.hamming, {_cos} AS cos_sim
          FROM shortlist s
          JOIN embeddings a ON a.vec_id = s.query_id
          JOIN embeddings b ON b.vec_id = s.neighbor_id
          WHERE NOT isnan({_cos})
        ), ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)::INT AS rank
          FROM rescored
        )
        SELECT query_id, neighbor_id, hamming, cos_sim, rank
        FROM ranked WHERE rank <= 5
    """

    # CUPED: x, y and all pooled moments are exact decimals; theta and
    # the adjusted means evaluate in the operator's expression order
    sql["events_ab_cuped"] = f"""
        WITH per_user AS (
          SELECT user_id AS u,
                 COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                     THEN ROUND(value, 2)::DECIMAL(18,2) END), 0)
                   ::DECIMAL(18,2) AS x,
                 COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                     THEN ROUND(value, 2)::DECIMAL(18,2) END), 0)
                   ::DECIMAL(18,2) AS y
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ), v AS (
          SELECT u, x, y, {_H56.format(x="u::VARCHAR")} % 2 AS variant
          FROM per_user
        ), m AS (
          SELECT COUNT(*)::BIGINT AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM v
        ), pv AS (
          SELECT variant, COUNT(*)::BIGINT AS n_users,
                 SUM(y) AS vy, SUM(x) AS vx
          FROM v GROUP BY variant
        )
        SELECT variant, n_users,
               ROUND(vy::DOUBLE / n_users::DOUBLE, 6) AS mean_y,
               ROUND(vy::DOUBLE / n_users::DOUBLE
                     - ((sxy::DOUBLE - (sx::DOUBLE * sy::DOUBLE) / n::DOUBLE)
                        / (sxx::DOUBLE - (sx::DOUBLE * sx::DOUBLE) / n::DOUBLE))
                       * (vx::DOUBLE / n_users::DOUBLE
                           - sx::DOUBLE / n::DOUBLE), 6) AS mean_y_cuped,
               ROUND((sxy::DOUBLE - (sx::DOUBLE * sy::DOUBLE) / n::DOUBLE)
                     / (sxx::DOUBLE - (sx::DOUBLE * sx::DOUBLE) / n::DOUBLE),
                     6) AS theta
        FROM pv CROSS JOIN m
    """

    # RRF: both input rankings reuse their certified ordering SQL;
    # contributions are exact 12-dp decimals so the fused order is
    # accumulation-order-free
    sql["sim_hybrid_rrf"] = f"""
        WITH cscored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {_cos} AS cos_sim,
                 ROUND(list_dot_product(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS dot_sim
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ), cosr AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
              AS rank
            FROM cscored
          ) WHERE rank <= 20
        ), dotr AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY dot_sim DESC, neighbor_id)
              AS rank
            FROM cscored
          ) WHERE rank <= 20
        ), u AS (
          SELECT query_id, neighbor_id,
                 ROUND(1.0 / (60.0 + rank), 12)::DECIMAL(18,12) AS c
          FROM cosr
          UNION ALL
          SELECT query_id, neighbor_id,
                 ROUND(1.0 / (60.0 + rank), 12)::DECIMAL(18,12)
          FROM dotr
        ), fused AS (
          SELECT query_id, neighbor_id, SUM(c) AS s FROM u GROUP BY 1, 2
        ), ranked AS (
          SELECT query_id, neighbor_id, s, row_number() OVER (
            PARTITION BY query_id
            ORDER BY s DESC, query_id, neighbor_id) AS rank
          FROM fused
        )
        SELECT query_id, neighbor_id, s::DOUBLE AS rrf_score, rank
        FROM ranked WHERE rank <= 5
    """

    # real resize: the oracle replays the integer nearest-neighbor
    # index arithmetic (sy = y*h//4, sx = x*w//4) over the pixel
    # FORMULA — never touching a PNG byte; the position-weighted sum
    # pins the exact output layout, not just the multiset
    sql["mm_resize_real"] = """
        WITH dims AS (
          SELECT doc_id,
                 8 + doc_id % 9 AS w,
                 8 + (doc_id // 9) % 9 AS h
          FROM documents
        )
        SELECT d.doc_id, 'png' AS media_type,
               d.w::INT AS src_width, d.h::INT AS src_height,
               4 AS width, 4 AS height, 3 AS channels,
               SUM((d.doc_id * 31 + ((y.y * d.h) // 4) * 7
                    + ((x.x * d.w) // 4) * 3 + c.c * 11) % 256)::BIGINT
                 AS pixel_sum,
               SUM(((d.doc_id * 31 + ((y.y * d.h) // 4) * 7
                     + ((x.x * d.w) // 4) * 3 + c.c * 11) % 256)
                   * ((y.y * 4 + x.x) * 3 + c.c + 1))::BIGINT
                 AS weighted_sum,
               48::BIGINT AS n_pixels
        FROM dims d, range(0, 4) AS y(y), range(0, 4) AS x(x),
             range(0, 3) AS c(c)
        GROUP BY d.doc_id, d.w, d.h
    """

    # aHash image dedup: replay the variant-fixture pixel formula and
    # the full hash arithmetic (grayscale floor-div, 8x8 nearest
    # sample, floor mean, strict > bits, two packed words) in pure
    # integer SQL — a hash-exact match certifies the PNG encode ->
    # decode -> hash round trip bit-for-bit
    _ah_chan = (
        "((b.base * 31 + s.sy * 7 + s.sx * 3 + {c} * 11"
        " + (s.sy * s.sx * (1 + b.base % 7)) % 97) % 250 + b.shift)"
    )
    _ah_gray = (
        "(("
        + " + ".join(_ah_chan.format(c=c) for c in range(3))
        + ") // 3)"
    )
    sql["mm_image_ahash_dedup"] = f"""
        WITH b AS (
          SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS shift,
                 8 + (doc_id // 4) % 9 AS w,
                 8 + ((doc_id // 4) // 9) % 9 AS h
          FROM documents
        ), s AS (
          SELECT b.doc_id, gy.i AS gy, gx.i AS gx,
                 (gy.i * b.h) // 8 AS sy, (gx.i * b.w) // 8 AS sx
          FROM b, range(0, 8) AS gy(i), range(0, 8) AS gx(i)
        ), gray AS (
          SELECT s.doc_id, s.gy, s.gx, {_ah_gray} AS g
          FROM s JOIN b ON s.doc_id = b.doc_id
        ), m AS (
          SELECT doc_id, SUM(g) // 64 AS mean FROM gray GROUP BY doc_id
        ), hash AS (
          SELECT gray.doc_id,
                 SUM(CASE WHEN g > mean AND gy * 8 + gx < 32
                          THEN 1::BIGINT << (gy * 8 + gx)
                          ELSE 0 END)::BIGINT AS ahash_w0,
                 SUM(CASE WHEN g > mean AND gy * 8 + gx >= 32
                          THEN 1::BIGINT << (gy * 8 + gx - 32)
                          ELSE 0 END)::BIGINT AS ahash_w1
          FROM gray JOIN m USING (doc_id) GROUP BY gray.doc_id
        )
        SELECT ahash_w0, ahash_w1, COUNT(*)::BIGINT AS n_images,
               MIN(doc_id)::BIGINT AS canonical_doc
        FROM hash GROUP BY ahash_w0, ahash_w1
    """

    # nearest as-of: DuckDB's ASOF supports both inequality
    # directions; pick by exact integer microsecond distance, strict <
    # so equidistant ties go backward (pandas convention)
    sql["asof_join_nearest"] = """
        WITH clicks AS (
          SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'click'
        ), errors AS (
          SELECT user_id, ts, event_id AS error_event_id FROM events
          WHERE event_type = 'error'
        ), b AS (
          SELECT c.user_id, c.event_id, c.ts,
                 e.error_event_id AS b_id, e.ts AS b_ts
          FROM clicks c ASOF LEFT JOIN errors e
            ON c.user_id = e.user_id AND e.ts <= c.ts
        ), f AS (
          SELECT c.user_id, c.event_id,
                 e.error_event_id AS f_id, e.ts AS f_ts
          FROM clicks c ASOF LEFT JOIN errors e
            ON c.user_id = e.user_id AND e.ts >= c.ts
        )
        SELECT b.user_id, b.event_id,
               CASE WHEN f_id IS NULL THEN b_id
                    WHEN b_id IS NULL THEN f_id
                    WHEN (epoch_us(f_ts) - epoch_us(b.ts))
                         < (epoch_us(b.ts) - epoch_us(b_ts)) THEN f_id
                    ELSE b_id END AS nearest_error_id
        FROM b JOIN f USING (user_id, event_id)
    """

    sql["quality_domain_shift"] = f"""
        WITH ca_t AS (
          SELECT {_H56.format(x="tok")} % 128 AS b, COUNT(*)::BIGINT AS ca
          FROM (SELECT unnest({_TOKS}) AS tok FROM documents
                WHERE lang = 'en') GROUP BY 1
        ), cb_t AS (
          SELECT {_H56.format(x="tok")} % 128 AS b, COUNT(*)::BIGINT AS cb
          FROM (SELECT unnest({_TOKS}) AS tok FROM documents
                WHERE lang <> 'en') GROUP BY 1
        ), tot AS (
          SELECT (SELECT SUM(ca) FROM ca_t)::BIGINT AS ta,
                 (SELECT SUM(cb) FROM cb_t)::BIGINT AS tb
        ), terms AS (
          SELECT
            (2.0 * COALESCE(ca, 0)::DOUBLE + 1.0)
              / (2.0 * ta::DOUBLE + 128.0) AS p,
            (2.0 * COALESCE(cb, 0)::DOUBLE + 1.0)
              / (2.0 * tb::DOUBLE + 128.0) AS q,
            ta, tb
          FROM range(0, 128) AS sp(b)
          LEFT JOIN ca_t ON ca_t.b = sp.b
          LEFT JOIN cb_t ON cb_t.b = sp.b
          CROSS JOIN tot
        )
        SELECT 128 AS n_buckets, ta AS tokens_a, tb AS tokens_b,
               ROUND(SUM(ROUND(0.5 * (p * ln(p / (0.5 * (p + q))))
                               + 0.5 * (q * ln(q / (0.5 * (p + q)))), 12)
                         ::DECIMAL(18,12))::DOUBLE, 6) AS js_divergence
        FROM terms GROUP BY ta, tb
    """

    # steady state: 30 unrolled power-iteration steps in EXACT integer
    # micro-units — (v*p)//1e12 per term, floor-div on positives, the
    # same arithmetic the operator's driver-side Python loop runs
    _U = "1000000000000"
    mk_steps = []
    for k in range(1, 31):
        mk_steps.append(
            f"""v{k} AS MATERIALIZED (
          SELECT s.state, COALESCE(agg.m, 0)::HUGEINT AS v
          FROM sts s LEFT JOIN (
            SELECT p.nxt AS state,
                   SUM((v.v * p.pm) // {_U})::HUGEINT AS m
            FROM p JOIN v{k - 1} v ON v.state = p.cur
            GROUP BY p.nxt
          ) agg ON agg.state = s.state
        )"""
        )
    mk_body = ",\n        ".join(mk_steps)
    sql["events_markov_steady_state"] = f"""
        WITH stream AS MATERIALIZED (
          SELECT event_type AS cur,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        ), cnt AS MATERIALIZED (
          SELECT cur, nxt, COUNT(*)::BIGINT AS c FROM stream
          WHERE nxt IS NOT NULL GROUP BY 1, 2
        ), sts AS MATERIALIZED (
          SELECT DISTINCT state FROM (
            SELECT cur AS state FROM cnt UNION SELECT nxt FROM cnt
          )
        ), tt AS MATERIALIZED (
          SELECT s.state, COALESCE(t.t, 0)::BIGINT AS t
          FROM sts s LEFT JOIN (
            SELECT cur, SUM(c)::BIGINT AS t FROM cnt GROUP BY cur
          ) t ON t.cur = s.state
        ), p AS MATERIALIZED (
          SELECT cnt.cur, cnt.nxt,
                 ((2 * cnt.c::HUGEINT * {_U} + tt.t)
                   // (2 * tt.t))::HUGEINT AS pm
          FROM cnt JOIN tt ON tt.state = cnt.cur
          UNION ALL
          SELECT state, state, {_U}::HUGEINT FROM tt WHERE t = 0
        ), nst AS (SELECT COUNT(*)::BIGINT AS n FROM sts),
        r1 AS (
          SELECT state, row_number() OVER (ORDER BY state) AS rn FROM sts
        ),
        v0 AS MATERIALIZED (
          SELECT r1.state,
                 ({_U} // n + CASE WHEN rn = 1 THEN {_U} % n ELSE 0 END)
                   ::HUGEINT AS v
          FROM r1 CROSS JOIN nst
        ),
        {mk_body}
        SELECT s.state, tt.t AS n_out, v30.v::BIGINT AS stationary_micro,
               v30.v::DOUBLE / 1000000000000.0 AS stationary
        FROM sts s JOIN tt ON tt.state = s.state
        JOIN v30 ON v30.state = s.state
    """

    sql["events_top_paths"] = """
        WITH s AS (
          SELECT user_id, event_type,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), c AS (
          SELECT concat_ws('>', event_type, e2, e3) AS path,
                 COUNT(*)::BIGINT AS n
          FROM s WHERE e3 IS NOT NULL GROUP BY 1
        )
        SELECT path, n FROM c ORDER BY n DESC, path LIMIT 20
    """

    sql["etl_freshness"] = """
        WITH per AS (
          SELECT event_type, COUNT(*)::BIGINT AS n_rows,
                 MIN(ts) AS first_ts, MAX(ts) AS last_ts
          FROM events WHERE ts IS NOT NULL GROUP BY event_type
        ), a AS (SELECT MAX(ts) AS anchor FROM events)
        SELECT event_type, n_rows, first_ts, last_ts,
               -- floor-truncated seconds: Spark's timestamp->long cast
               -- truncates while DuckDB's epoch()::BIGINT rounds
               (epoch_us(anchor) // 1000000 - epoch_us(last_ts) // 1000000)
                 ::BIGINT AS staleness_s
        FROM per CROSS JOIN a
    """

    # DSIR: the per-bucket log ratio is ONE fixed-order double
    # expression of exact integer counts (products deliberately in
    # doubles — (2c+1)·(2T+B) passes int64 at corpus scale)
    sql["quality_dsir_weights"] = f"""
        WITH srcb AS (
          SELECT doc_id, {_H56.format(x="tok")} % 128 AS b
          FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
        ), tgtb AS (
          SELECT {_H56.format(x="tok")} % 128 AS b
          FROM (SELECT unnest({_TOKS}) AS tok FROM documents
                WHERE lang = 'en')
        ), cs AS (SELECT b, COUNT(*)::BIGINT AS cs FROM srcb GROUP BY b),
        ct AS (SELECT b, COUNT(*)::BIGINT AS ct FROM tgtb GROUP BY b),
        tot AS (SELECT (SELECT SUM(cs) FROM cs)::BIGINT AS ts,
                       (SELECT SUM(ct) FROM ct)::BIGINT AS tt),
        model AS (
          SELECT sp.b,
                 ROUND(ln(((2.0 * COALESCE(ct, 0)::DOUBLE + 1.0)
                            * (2.0 * ts::DOUBLE + 128.0))
                          / ((2.0 * COALESCE(cs, 0)::DOUBLE + 1.0)
                              * (2.0 * tt::DOUBLE + 128.0))), 6)
                   ::DECIMAL(18,6) AS lr
          FROM range(0, 128) AS sp(b)
          LEFT JOIN cs ON cs.b = sp.b
          LEFT JOIN ct ON ct.b = sp.b
          CROSS JOIN tot
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               ROUND(SUM(lr)::DOUBLE, 6) AS log_weight
        FROM srcb JOIN model USING (b) GROUP BY doc_id
    """

    _cos16 = (
        "ROUND(list_dot_product(list_slice(a.embedding, 1, 16)::DOUBLE[], "
        "list_slice(b.embedding, 1, 16)::DOUBLE[]) / "
        "(sqrt(list_dot_product(list_slice(a.embedding, 1, 16)::DOUBLE[], "
        "list_slice(a.embedding, 1, 16)::DOUBLE[])) * "
        "sqrt(list_dot_product(list_slice(b.embedding, 1, 16)::DOUBLE[], "
        "list_slice(b.embedding, 1, 16)::DOUBLE[]))), 4)"
    )
    sql["sim_matryoshka_recall"] = f"""
        WITH fscored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 {_cos} AS cs, {_cos16} AS cp
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id
        ), fullr AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
            FROM fscored
          ) WHERE rn <= 5
        ), prefr AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id ORDER BY cp DESC, neighbor_id) AS rn
            FROM fscored
          ) WHERE rn <= 5
        ), base AS (
          SELECT query_id, COUNT(*)::BIGINT AS kk
          FROM fullr GROUP BY query_id
        ), hits AS (
          SELECT f.query_id, COUNT(*)::BIGINT AS n
          FROM fullr f JOIN prefr p USING (query_id, neighbor_id)
          GROUP BY f.query_id
        )
        SELECT query_id, COALESCE(n, 0)::BIGINT AS n_hits,
               ROUND(COALESCE(n, 0)::DOUBLE / kk::DOUBLE, 6) AS recall
        FROM base LEFT JOIN hits USING (query_id)
    """

    # Kaplan-Meier: exact integer risk sets; the factor product is a
    # 9-dp-decimal ln cumsum exponentiated once (the LM family's ln
    # bet); a zero factor forces exact 0.0 instead of ln(0)
    sql["events_survival_km"] = """
        WITH per_user AS (
          SELECT user_id,
                 -- epoch_us//1e6 = floor seconds (Spark cast truncates;
                 -- epoch()::BIGINT would round)
                 (epoch_us(MIN(ts)) // 1000000)::BIGINT AS f,
                 (epoch_us(MAX(ts)) // 1000000)::BIGINT AS l,
                 date_trunc('week', MIN(ts)) AS cohort
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY user_id
        ), anchor AS (SELECT MAX(l) AS now FROM per_user),
        lifted AS (
          SELECT cohort, (l - f) // 86400 AS day,
                 CASE WHEN l < now - 7200 THEN 1 ELSE 0 END AS churned
          FROM per_user CROSS JOIN anchor
        ), counts AS (
          SELECT cohort, day, COUNT(*)::BIGINT AS n_users,
                 SUM(churned)::BIGINT AS churned
          FROM lifted GROUP BY cohort, day
        ), risky AS (
          SELECT *, SUM(n_users) OVER (
            PARTITION BY cohort ORDER BY day DESC
            ROWS UNBOUNDED PRECEDING)::BIGINT AS at_risk
          FROM counts
        ), deaths AS (
          SELECT cohort, day, at_risk, churned FROM risky WHERE churned > 0
        ), scored AS (
          SELECT cohort, day, at_risk, churned,
            SUM(CASE WHEN 1.0 - churned::DOUBLE / at_risk::DOUBLE > 0
                     THEN ROUND(ln(1.0 - churned::DOUBLE / at_risk::DOUBLE),
                                9)::DECIMAL(18,9)
                     ELSE 0.0::DECIMAL(18,9) END)
              OVER (PARTITION BY cohort ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS cum,
            MAX(CASE WHEN 1.0 - churned::DOUBLE / at_risk::DOUBLE = 0
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY cohort ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS dead
          FROM deaths
        )
        SELECT cohort, day, at_risk, churned,
               CASE WHEN dead = 1 THEN 0.0
                    ELSE ROUND(exp(cum::DOUBLE), 6) END AS survival
        FROM scored
    """

    sql["approx_cms_counts"] = f"""
        WITH rows_ AS (
          SELECT user_id::VARCHAR AS v FROM events WHERE user_id IS NOT NULL
        ), cells AS (
          SELECT d.d, {_H56.format(x="(d.d::VARCHAR || '|' || v)")} % 64 AS b,
                 COUNT(*)::BIGINT AS c
          FROM rows_, range(0, 4) AS d(d) GROUP BY 1, 2
        ), exact_c AS (
          SELECT v AS value, COUNT(*)::BIGINT AS exact FROM rows_ GROUP BY v
        ), lookups AS (
          SELECT value, d.d,
                 {_H56.format(x="(d.d::VARCHAR || '|' || value)")} % 64 AS b
          FROM exact_c, range(0, 4) AS d(d)
        ), est AS (
          SELECT value, MIN(c)::BIGINT AS estimate
          FROM lookups JOIN cells USING (d, b) GROUP BY value
        )
        SELECT value, exact, estimate,
               (estimate - exact)::BIGINT AS overestimate
        FROM exact_c JOIN est USING (value)
    """

    sql["quality_mad_outliers"] = """
        WITH planted AS (
          SELECT event_type, event_id,
                 CASE WHEN event_id % 997 = 0 THEN value + 5000.0
                      ELSE value END AS value
          FROM events WHERE value IS NOT NULL
        ), r AS (
          SELECT event_type AS g, event_id,
                 CAST(ROUND(value, 4) AS DECIMAL(19,4)) AS v
          FROM planted
        ), med AS (
          SELECT g, v AS med FROM (
            SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM r
          ) WHERE rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1
        ), dev AS (
          SELECT r.g, r.event_id, r.v, med.med, ABS(r.v - med.med) AS d
          FROM r JOIN med USING (g)
        ), mad AS (
          SELECT g, d AS mad FROM (
            SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM dev
          ) WHERE rn = CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1
        ), scored AS (
          SELECT dev.g AS event_type, dev.event_id, dev.v AS value,
                 dev.med, mad.mad,
                 CASE WHEN mad.mad <> 0 THEN
                   ROUND(0.6745 * (dev.v - dev.med)::DOUBLE
                         / mad.mad::DOUBLE, 6)
                 END AS mod_z
          FROM dev JOIN mad USING (g)
        )
        SELECT event_type, event_id, value::DOUBLE AS value,
               med::DOUBLE AS med, mad::DOUBLE AS mad, mod_z
        FROM scored
        WHERE CASE WHEN mad <> 0 THEN ABS(mod_z) > 3.5
                   ELSE value <> med END
    """

    # HLL distinct audit: same register/rho integer arithmetic as the
    # operator — trailing-zero CASE ladder (no float log), exact
    # integer harmonic numerator, alpha*m^2 embedded as the identical
    # Python-computed literal, ONE float expression at the end
    _rho_sql = (
        "CASE "
        + " ".join(
            f"WHEN r % {1 << k} = {1 << (k - 1)} THEN {k}"
            for k in range(1, 51)
        )
        + " ELSE 51 END"
    )
    _alpha_m2 = repr(0.7213 / (1.0 + 1.079 / 64) * 64 * 64)
    sql["approx_hll_distinct"] = f"""
        WITH vals AS (
          SELECT event_type AS g,
                 {_H56.format(x="user_id::VARCHAR")} AS h
          FROM events WHERE user_id IS NOT NULL
        ), rr AS (
          SELECT g, h % 64 AS reg, (h // 64) AS r FROM vals
        ), regs AS (
          SELECT g, reg, MAX({_rho_sql}) AS m FROM rr GROUP BY g, reg
        ), per_g AS (
          SELECT g, MAX(m) AS maxm, COUNT(*) AS present FROM regs GROUP BY g
        ), num AS (
          SELECT regs.g, per_g.maxm,
                 (64 - per_g.present)::BIGINT AS n_zero_registers,
                 (SUM(pow(2.0, per_g.maxm - regs.m)::BIGINT)
                  + (64 - per_g.present)
                    * pow(2.0, per_g.maxm)::BIGINT)::BIGINT AS num
          FROM regs JOIN per_g USING (g)
          GROUP BY regs.g, per_g.maxm, per_g.present
        ), exact_d AS (
          SELECT event_type AS g,
                 COUNT(DISTINCT user_id)::BIGINT AS exact_distinct
          FROM events WHERE user_id IS NOT NULL GROUP BY 1
        ), est AS (
          SELECT g,
                 ROUND({_alpha_m2} * pow(2.0, maxm) / num, 6)
                   AS hll_estimate,
                 n_zero_registers
          FROM num
        )
        SELECT exact_d.g AS event_type, exact_distinct, hll_estimate,
               n_zero_registers,
               ROUND(ABS(hll_estimate - exact_distinct)
                     / exact_distinct, 6) AS rel_err
        FROM exact_d JOIN est USING (g)
    """

    # bloom prefilter: the words CTE is the literal bitmap the Spark
    # side embeds; the per-hash bit test is the same integer
    # (wval // 2^bit) % 2 arithmetic
    _bloom_pos = "({h} % 1024)"

    def _bp(j: str, key: str) -> str:
        h = _H56.format(x=f"({j}::VARCHAR || '|' || {key}::VARCHAR)")
        return f"({h} % 1024)"

    sql["etl_bloom_semi_join"] = f"""
        WITH dimk AS (
          SELECT DISTINCT s_suppkey AS k FROM supplier
          WHERE s_nationkey < 10 AND s_suppkey IS NOT NULL
        ), pos AS (
          SELECT DISTINCT {_bp("j.j", "k")} // 32 AS w,
                          {_bp("j.j", "k")} % 32 AS bit
          FROM dimk, range(0, 3) AS j(j)
        ), words AS (
          SELECT w, SUM(pow(2, bit)::BIGINT)::BIGINT AS wval
          FROM pos GROUP BY w
        ), f AS (
          SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey IS NOT NULL
        ), probe AS (
          SELECT f.k,
            (COALESCE(w0.wval, 0) // pow(2, {_bp("0", "f.k")} % 32)::BIGINT)
              % 2 AS s0,
            (COALESCE(w1.wval, 0) // pow(2, {_bp("1", "f.k")} % 32)::BIGINT)
              % 2 AS s1,
            (COALESCE(w2.wval, 0) // pow(2, {_bp("2", "f.k")} % 32)::BIGINT)
              % 2 AS s2
          FROM f
          LEFT JOIN words w0 ON w0.w = {_bp("0", "f.k")} // 32
          LEFT JOIN words w1 ON w1.w = {_bp("1", "f.k")} // 32
          LEFT JOIN words w2 ON w2.w = {_bp("2", "f.k")} // 32
        ), passed AS (
          SELECT k FROM probe WHERE s0 = 1 AND s1 = 1 AND s2 = 1
        )
        SELECT (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_fact,
               COUNT(*)::BIGINT AS n_passed,
               SUM(CASE WHEN k IN (SELECT k FROM dimk) THEN 1 ELSE 0 END)
                 ::BIGINT AS n_true_match,
               (COUNT(*) - SUM(CASE WHEN k IN (SELECT k FROM dimk)
                                    THEN 1 ELSE 0 END))::BIGINT
                 AS n_false_positive
        FROM passed
    """
    # the production (broadcast + mapInPandas) probe is bit-identical
    # to the literal twin — same oracle certifies both
    sql["etl_bloom_semi_join_scale"] = sql["etl_bloom_semi_join"]

    # CDC chunking: identical rolling-window boundary rule (positions
    # are 1-based on both sides; list_slice(greatest(1, i-3), i) ==
    # the 4-token lag window with concat_ws null-skipping), cumulative
    # boundary sum over the PRECEDING rows, chunk text re-hashed from
    # the ordered string_agg
    sql["dedup_cdc_chunks"] = f"""
        WITH docs AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
          WHERE len({_TOKS}) > 0
        ), expl AS (
          SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                 unnest(toks) AS tok, toks
          FROM docs
        ), tokd AS (
          SELECT doc_id, pos, tok,
                 array_to_string(
                   list_slice(toks, greatest(1, pos - 3), pos), ' ') AS wtext
          FROM expl
        ), flagged AS (
          SELECT doc_id, pos, tok,
                 CASE WHEN {_H56.format(x="wtext")} % 16 = 0
                      THEN 1 ELSE 0 END AS b
          FROM tokd
        ), chunked AS (
          SELECT doc_id, pos, tok,
                 COALESCE(SUM(b) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0)::BIGINT AS chunk
          FROM flagged
        ), chunks AS (
          SELECT doc_id, chunk, COUNT(*)::BIGINT AS n_tokens,
                 {_H56.format(x="string_agg(tok, ' ' ORDER BY pos)")}
                   AS chunk_hash
          FROM chunked GROUP BY doc_id, chunk
        ), pdh AS (
          SELECT doc_id, chunk_hash, COUNT(*)::BIGINT AS own,
                 SUM(n_tokens)::BIGINT AS tok
          FROM chunks GROUP BY doc_id, chunk_hash
        ), freq AS (
          SELECT chunk_hash, SUM(own)::BIGINT AS cf FROM pdh GROUP BY 1
        )
        SELECT doc_id, SUM(own)::BIGINT AS n_chunks,
               SUM(tok)::BIGINT AS n_chunk_tokens,
               SUM(CASE WHEN cf > own THEN own ELSE 0 END)::BIGINT
                 AS n_shared_chunks,
               ROUND(SUM(CASE WHEN cf > own THEN own ELSE 0 END)::DOUBLE
                     / SUM(own)::DOUBLE, 6) AS shared_ratio
        FROM pdh JOIN freq USING (chunk_hash) GROUP BY doc_id
    """

    # Guarded CDC (VERDICT r12 #6): same candidate rule, then the
    # sequential min/max guard transition replayed as a recursive CTE
    # — end(start) = first candidate with start+3 <= pos <= start+23,
    # else a forced split at start+23 when more than 24 tokens remain,
    # else the end of the doc (trailing runt allowed). 1-based
    # positions; identical to the Spark twin's 0-based walk.
    sql["dedup_cdc_guarded"] = f"""
        WITH RECURSIVE docs AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
          WHERE len({_TOKS}) > 0
        ), expl AS (
          SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                 unnest(toks) AS tok, toks
          FROM docs
        ), flagged AS MATERIALIZED (
          SELECT doc_id, pos, tok,
                 CASE WHEN {_H56.format(x="array_to_string(list_slice(toks, greatest(1, pos - 3), pos), ' ')")} % 16 = 0
                      THEN 1 ELSE 0 END AS b
          FROM expl
        ), cand AS (
          SELECT doc_id, pos FROM flagged WHERE b = 1
        ), nn AS MATERIALIZED (
          SELECT doc_id, COUNT(*)::BIGINT AS n FROM flagged GROUP BY doc_id
        ), nxt AS MATERIALIZED (
          -- first honorable candidate for EVERY potential chunk start:
          -- keeps the recursion itself join-only (no correlated
          -- subquery / aggregate inside the recursive term)
          SELECT st.doc_id, st.pos::BIGINT AS start_pos,
                 MIN(c.pos)::BIGINT AS p
          FROM flagged st JOIN cand c
            ON c.doc_id = st.doc_id
           AND c.pos >= st.pos + 3 AND c.pos <= st.pos + 23
          GROUP BY 1, 2
        ), spans AS (
          SELECT doc_id, 0::BIGINT AS chunk_idx, 1::BIGINT AS start_pos
          FROM nn
          UNION ALL
          SELECT s.doc_id, s.chunk_idx + 1,
                 COALESCE(nxt.p,
                          CASE WHEN nn.n - s.start_pos + 1 > 24
                               THEN s.start_pos + 23 ELSE nn.n END) + 1
          FROM spans s
          JOIN nn ON nn.doc_id = s.doc_id
          LEFT JOIN nxt ON nxt.doc_id = s.doc_id
                       AND nxt.start_pos = s.start_pos
          WHERE COALESCE(nxt.p,
                         CASE WHEN nn.n - s.start_pos + 1 > 24
                              THEN s.start_pos + 23 ELSE nn.n END) < nn.n
        ), spans_e AS (
          SELECT s.doc_id, s.chunk_idx, s.start_pos,
                 COALESCE(nxt.p,
                          CASE WHEN nn.n - s.start_pos + 1 > 24
                               THEN s.start_pos + 23 ELSE nn.n END)
                   AS end_pos
          FROM spans s
          JOIN nn ON nn.doc_id = s.doc_id
          LEFT JOIN nxt ON nxt.doc_id = s.doc_id
                       AND nxt.start_pos = s.start_pos
        )
        SELECT f.doc_id, sp.chunk_idx,
               COUNT(*)::BIGINT AS n_tokens,
               {_H56.format(x="string_agg(f.tok, ' ' ORDER BY f.pos)")}
                 AS chunk_hash
        FROM flagged f JOIN spans_e sp
          ON f.doc_id = sp.doc_id
         AND f.pos BETWEEN sp.start_pos AND sp.end_pos
        GROUP BY f.doc_id, sp.chunk_idx
    """
    sql["dedup_ngram_novelty"] = f"""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest({_shingles()}) AS s FROM documents
          )
        ), dfreq AS (
          SELECT s, COUNT(*)::BIGINT AS df FROM sh GROUP BY s
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_shingles,
               SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
               ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE
                     / COUNT(*)::DOUBLE, 6) AS novelty
        FROM sh JOIN dfreq USING (s) GROUP BY doc_id
    """

    # ----- round 13 -----

    sql["quality_k_anonymity"] = """
        SELECT c_nationkey, c_mktsegment, COUNT(*)::BIGINT AS n_rows,
               (COUNT(*) < 10) AS violates
        FROM customer GROUP BY c_nationkey, c_mktsegment
    """

    # Cohen's kappa vs the lang_id prediction — the text_lang_id hits
    # ladder inlined, then exact class counts and one mirrored float
    sql["quality_cohen_kappa"] = f"""
        WITH hits AS (
          SELECT doc_id, lang,
                 {_hits(en)} AS h_en, {_hits(fr)} AS h_fr,
                 {_hits(es)} AS h_es, {_hits(de)} AS h_de
          FROM documents
        ), pred AS (
          SELECT lang AS a,
                 CASE WHEN greatest(h_en, h_fr, h_es, h_de) = 0 THEN 'und'
                      WHEN h_de = greatest(h_en, h_fr, h_es, h_de) THEN 'de'
                      WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
                      WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
                      ELSE 'fr' END AS b
          FROM hits WHERE lang IS NOT NULL
        ), nagg AS (
          SELECT COUNT(*)::BIGINT AS n,
                 SUM((a = b)::INT)::BIGINT AS agree
          FROM pred
        ), ca AS (SELECT a AS c, COUNT(*)::HUGEINT AS na FROM pred GROUP BY a),
        cb AS (SELECT b AS c, COUNT(*)::HUGEINT AS nb FROM pred GROUP BY b),
        pe_num AS (
          SELECT SUM(na * nb)::HUGEINT AS pn FROM ca JOIN cb USING (c)
        )
        SELECT n AS n_pairs,
               ROUND(agree::DOUBLE / n::DOUBLE, 6) AS po,
               ROUND(pn::DOUBLE / (n::DOUBLE * n::DOUBLE), 6) AS pe,
               ROUND((agree::DOUBLE / n::DOUBLE
                      - pn::DOUBLE / (n::DOUBLE * n::DOUBLE))
                     / NULLIF(1.0 - pn::DOUBLE / (n::DOUBLE * n::DOUBLE), 0),
                     6) AS kappa
        FROM nagg CROSS JOIN pe_num
    """

    sql["quality_token_budget"] = f"""
        WITH base AS (
          SELECT doc_id, source,
                 len({_TOKS})::BIGINT AS n_tokens,
                 {_H56.format(x="doc_id::VARCHAR")} AS pri
          FROM documents
        ), cum AS (
          SELECT doc_id, source, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY pri, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0)::BIGINT AS cum_before
          FROM base
        )
        SELECT doc_id, source, n_tokens, cum_before,
               (cum_before < 1000) AS admitted
        FROM cum
    """

    sql["events_ab_srm"] = f"""
        WITH users AS (
          SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
        ), agg AS (
          SELECT COUNT(*)::BIGINT AS n_users,
                 SUM(({_H56.format(x="user_id::VARCHAR")} % 2 = 0)::INT)
                   ::BIGINT AS n_control
          FROM users
        )
        SELECT n_users, n_control,
               (n_users - n_control)::BIGINT AS n_treatment,
               ROUND(n_users::DOUBLE * 0.5, 6) AS expected_control,
               ROUND((n_control::DOUBLE - n_users::DOUBLE * 0.5)
                     * (n_control::DOUBLE - n_users::DOUBLE * 0.5)
                     / (n_users::DOUBLE * 0.5)
                     + ((n_users - n_control)::DOUBLE - n_users::DOUBLE * 0.5)
                     * ((n_users - n_control)::DOUBLE - n_users::DOUBLE * 0.5)
                     / (n_users::DOUBLE * 0.5), 6) AS chi2,
               ((n_control::DOUBLE - n_users::DOUBLE * 0.5)
                     * (n_control::DOUBLE - n_users::DOUBLE * 0.5)
                     / (n_users::DOUBLE * 0.5)
                     + ((n_users - n_control)::DOUBLE - n_users::DOUBLE * 0.5)
                     * ((n_users - n_control)::DOUBLE - n_users::DOUBLE * 0.5)
                     / (n_users::DOUBLE * 0.5)) > 3.841 AS srm_detected
        FROM agg
    """

    sql["text_vocab_overlap"] = f"""
        WITH vocab AS (
          SELECT DISTINCT lang AS g, s FROM (
            SELECT lang, unnest({_shingles()}) AS s FROM documents
          )
        ), sizes AS (
          SELECT g, COUNT(*)::BIGINT AS n FROM vocab GROUP BY g
        ), shared AS (
          SELECT a.g AS group_a, b.g AS group_b,
                 COUNT(*)::BIGINT AS n_shared
          FROM vocab a JOIN vocab b ON a.s = b.s AND a.g < b.g
          GROUP BY 1, 2
        )
        SELECT group_a, group_b,
               sa.n AS vocab_a, sb.n AS vocab_b, n_shared,
               ROUND(n_shared::DOUBLE
                     / (sa.n + sb.n - n_shared)::DOUBLE, 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.g = group_a
        JOIN sizes sb ON sb.g = group_b
    """

    # bot flag rides the CERTIFIED burstiness expression: the verdict
    # compares the final 6-dp-rounded coefficient, NULL stays NULL
    sql["events_bot_users"] = """
        WITH g AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events WHERE ts IS NOT NULL
        ), agg AS (
          SELECT user_id, COUNT(*)::BIGINT AS n_gaps,
                 SUM(gap::HUGEINT)::HUGEINT AS sx,
                 SUM(gap::HUGEINT * gap::HUGEINT)::HUGEINT AS sxx
          FROM g WHERE gap IS NOT NULL GROUP BY user_id
        ), scored AS (
          SELECT user_id, n_gaps,
                 sx::DOUBLE / n_gaps::DOUBLE AS mean,
                 sqrt((n_gaps::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                      / (n_gaps::DOUBLE * n_gaps::DOUBLE)) AS sd
          FROM agg
        ), final AS (
          SELECT user_id, n_gaps,
                 ROUND(mean, 6) AS mean_gap_us,
                 ROUND(sd, 6) AS std_gap_us,
                 ROUND(CASE WHEN sd + mean <> 0
                            THEN (sd - mean) / (sd + mean) END, 6)
                   AS burstiness
          FROM scored
        )
        SELECT user_id, n_gaps, mean_gap_us, std_gap_us, burstiness,
               (n_gaps >= 5 AND burstiness <= -0.9) AS is_bot
        FROM final
    """

    # IVF recall curve: the ivf_topk verdict contract across the
    # sweep — deterministic centroids make the booleans reproducible
    sql["sim_ivf_recall_curve"] = """
        SELECT * FROM (VALUES
          (1, 10, 5, 0.5, TRUE, TRUE),
          (2, 10, 5, 0.6, TRUE, TRUE),
          (4, 10, 5, 0.7, TRUE, TRUE)
        ) t(nprobe, n_queries, k, "floor", recall_floor_ok, monotone_ok)
    """

    # harmonic closeness: the betweenness forward-BFS unroll (same
    # graph, same seeds, 4 levels), each level's reach count times the
    # Python-computed 6-dp reciprocal literal, summed as exact
    # decimals; unreached seeds coalesce to 0
    cl_levels = []
    for lv in range(1, 5):
        excl = " OR ".join(
            f"EXISTS (SELECT 1 FROM cl{j} v WHERE v.s = cl{lv - 1}.s "
            f"AND v.id = e.b)"
            for j in range(lv)
        )
        cl_levels.append(
            f"""cl{lv} AS MATERIALIZED (
          SELECT DISTINCT cl{lv - 1}.s, e.b AS id
          FROM cl{lv - 1} JOIN sym e ON cl{lv - 1}.id = e.a
          WHERE NOT ({excl})
        )"""
        )
    cl_terms = " UNION ALL ".join(
        f"SELECT s, COUNT(*)::HUGEINT AS reach, "
        f"(COUNT(*)::HUGEINT * {round(1.0 / lv, 6)!r}::DECIMAL(18,6)) AS term "
        f"FROM cl{lv} GROUP BY s"
        for lv in range(1, 5)
    )
    sql["graph_closeness"] = f"""
        WITH g AS MATERIALIZED ({_ngraph}),
        sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM g
            UNION ALL SELECT dst, src FROM g
          ) WHERE a <> b
        ),
        cl0 AS MATERIALIZED (
          SELECT 'c' || c_custkey AS s, 'c' || c_custkey AS id
          FROM customer WHERE c_custkey < 9
        ),
        {",".join(cl_levels)},
        terms AS ({cl_terms}),
        per_s AS (
          SELECT s, SUM(reach)::BIGINT AS n_reached,
                 SUM(term) AS h
          FROM terms GROUP BY s
        )
        SELECT cl0.s AS id,
               COALESCE(per_s.n_reached, 0)::BIGINT AS n_reached,
               COALESCE(per_s.h::DOUBLE, 0.0) AS harmonic_closeness
        FROM cl0 LEFT JOIN per_s ON per_s.s = cl0.s
    """


    # Gopher rule battery: every count exact; ratios and flags in the
    # same operand order as the Spark expressions (single-expression
    # doubles); empty-doc branches mirrored via CASE
    sql["quality_gopher_rules"] = f"""
        WITH base AS (
          SELECT doc_id, text, {_TOKS} AS toks,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ), m AS (
          SELECT doc_id,
                 len(toks)::BIGINT AS n_words,
                 list_sum(list_transform(toks, t -> length(t)))::BIGINT
                   AS chsum,
                 (length(text)
                  - length(replace(text, '#', '')))::BIGINT AS n_hash,
                 (length(text)
                  - length(replace(text, '...', ''))) / 3 AS n_ell,
                 len(lines)::BIGINT AS n_lines,
                 len(list_filter(lines, l ->
                     l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'
                 ))::BIGINT AS n_bullet,
                 len(list_filter(lines, l -> l LIKE '%...'))::BIGINT
                   AS n_ell_end,
                 len(list_filter(toks, t ->
                     regexp_matches(t, '[A-Za-z]')))::BIGINT AS n_alpha,
                 (list_contains(list_transform(toks, t -> lower(t)), 'the')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'be')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'to')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'of')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'and')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'that')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'have')::INT
                  + list_contains(list_transform(toks, t -> lower(t)), 'with')::INT
                 )::INT AS n_req
          FROM base
        ), r AS (
          SELECT doc_id, n_words,
                 CASE WHEN n_words > 0
                      THEN chsum::DOUBLE / n_words ELSE 0.0 END AS mean_wl,
                 CASE WHEN n_words > 0
                      THEN (n_hash + n_ell) / n_words ELSE 0.0 END AS sym,
                 CASE WHEN n_lines > 0
                      THEN n_bullet::DOUBLE / n_lines ELSE 0.0 END AS bul,
                 CASE WHEN n_lines > 0
                      THEN n_ell_end::DOUBLE / n_lines ELSE 0.0 END AS ell,
                 CASE WHEN n_words > 0
                      THEN n_alpha::DOUBLE / n_words ELSE 0.0 END AS alpha,
                 n_req
          FROM m
        )
        SELECT doc_id, n_words,
               ROUND(mean_wl, 4) AS mean_word_len,
               ROUND(sym, 4) AS symbol_ratio,
               ROUND(bul, 4) AS bullet_ratio,
               ROUND(ell, 4) AS ellipsis_ratio,
               ROUND(alpha, 4) AS alpha_frac,
               n_req AS n_req_stopwords,
               (n_words >= 30 AND n_words <= 100000) AS ok_word_count,
               (mean_wl >= 3 AND mean_wl <= 10) AS ok_mean_word_len,
               (sym <= 0.1) AS ok_symbol_ratio,
               (bul <= 0.9) AS ok_bullet_lines,
               (ell <= 0.3) AS ok_ellipsis_lines,
               (alpha >= 0.8) AS ok_alpha_words,
               (n_req >= 2) AS ok_req_stopwords,
               ((n_words >= 30 AND n_words <= 100000)
                AND (mean_wl >= 3 AND mean_wl <= 10)
                AND (sym <= 0.1) AND (bul <= 0.9) AND (ell <= 0.3)
                AND (alpha >= 0.8) AND (n_req >= 2)) AS admitted
        FROM r
    """

    # HLL union: the approx_hll_distinct register arithmetic, merged
    # across groups by per-register MAX before the estimator
    sql["approx_hll_union"] = f"""
        WITH vals AS (
          SELECT event_type AS g, user_id AS v,
                 {_H56.format(x="user_id::VARCHAR")} AS h
          FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        ), rr AS (
          SELECT g, h % 64 AS reg, (h // 64) AS r FROM vals
        ), regs AS (
          SELECT g, reg, MAX({_rho_sql}) AS m FROM rr GROUP BY g, reg
        ), merged AS (
          SELECT reg, MAX(m) AS m FROM regs GROUP BY reg
        ), agg AS (
          SELECT MAX(m) AS maxm, COUNT(*) AS present FROM merged
        ), num AS (
          SELECT agg.maxm,
                 (64 - agg.present)::BIGINT AS n_zero_registers,
                 (SUM(pow(2.0, agg.maxm - merged.m)::BIGINT)
                  + (64 - agg.present)
                    * pow(2.0, agg.maxm)::BIGINT)::BIGINT AS num
          FROM merged CROSS JOIN agg
          GROUP BY agg.maxm, agg.present
        ), exact AS (
          SELECT COUNT(DISTINCT g)::BIGINT AS n_groups,
                 COUNT(DISTINCT v)::BIGINT AS exact_union
          FROM vals
        ), per_g AS (
          SELECT SUM(d)::BIGINT AS sum_group_exact FROM (
            SELECT g, COUNT(DISTINCT v) AS d FROM vals GROUP BY g
          )
        )
        SELECT n_groups, exact_union, sum_group_exact,
               ROUND({_alpha_m2} * pow(2.0, maxm) / num, 6)
                 AS hll_union_estimate,
               n_zero_registers,
               ROUND(ABS(ROUND({_alpha_m2} * pow(2.0, maxm) / num, 6)
                         - exact_union) / exact_union, 6) AS rel_err
        FROM exact CROSS JOIN per_g CROSS JOIN num
    """

    # k-truss: 6 unrolled peel rounds (fixpoint in 3 at the test
    # scales; extra rounds are no-ops — the kcore convention). Each
    # round: the triangle_count wedge enumeration over the surviving
    # edges, each triangle crediting its three sides, edges under
    # support 2 dropped.
    kt_rounds = []
    for i in range(1, 7):
        pr = i - 1
        kt_rounds.append(f"""tri_{i} AS (
          SELECT e1.u AS tu, e1.v AS tv, e2.v AS tw
          FROM e_{pr} e1 JOIN e_{pr} e2 ON e1.v = e2.u
          JOIN e_{pr} e3 ON e3.u = e1.u AND e3.v = e2.v
        ), sup_{i} AS (
          SELECT u, v, COUNT(*)::BIGINT AS support FROM (
            SELECT tu AS u, tv AS v FROM tri_{i}
            UNION ALL SELECT tv, tw FROM tri_{i}
            UNION ALL SELECT tu, tw FROM tri_{i}
          ) GROUP BY u, v
        ), e_{i} AS MATERIALIZED (
          SELECT e.u, e.v FROM e_{pr} e
          JOIN sup_{i} s ON s.u = e.u AND s.v = e.v AND s.support >= 2
        )""")
    kt_body = ",\n        ".join(kt_rounds)
    sql["graph_ktruss"] = f"""
        WITH e_0 AS MATERIALIZED (
          SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                          GREATEST(a.l_partkey, b.l_partkey) AS v
          FROM (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) a
          JOIN (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE year(l_shipdate) = 1995) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        {kt_body},
        ftri AS (
          SELECT e1.u AS tu, e1.v AS tv, e2.v AS tw
          FROM e_6 e1 JOIN e_6 e2 ON e1.v = e2.u
          JOIN e_6 e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT u, v, COUNT(*)::BIGINT AS support FROM (
          SELECT tu AS u, tv AS v FROM ftri
          UNION ALL SELECT tv, tw FROM ftri
          UNION ALL SELECT tu, tw FROM ftri
        ) t
        WHERE EXISTS (SELECT 1 FROM e_6 WHERE e_6.u = t.u AND e_6.v = t.v)
        GROUP BY u, v
    """

    # char entropy: exact counts; per-char terms rounded to 6 dp and
    # summed as exact decimals (order-free), one final double
    sql["text_char_entropy"] = """
        WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents
        ), counts AS (
          SELECT doc_id, ch, COUNT(*)::BIGINT AS cnt
          FROM chars WHERE ch <> '' GROUP BY doc_id, ch
        ), per_doc AS (
          SELECT doc_id,
                 SUM(cnt)::BIGINT AS n_chars,
                 COUNT(*)::BIGINT AS n_unique_chars,
                 SUM(ROUND(cnt * log2(cnt), 6)::DECIMAL(28,6))
                   AS s
          FROM counts GROUP BY doc_id
        )
        SELECT doc_id, n_chars, n_unique_chars,
               ROUND(log2(n_chars) - s::DOUBLE / n_chars, 6)
                 AS entropy_bits
        FROM per_doc
    """

    # shard-seam overlap: originals + deterministic continuations;
    # H56-keyed join with verbatim string recheck
    sql["dedup_overlap_pairs"] = f"""
        WITH orig AS (
          SELECT doc_id, text FROM documents
        ), synth AS (
          SELECT doc_id + 1000000 AS doc_id,
                 array_to_string(list_slice({_TOKS}, -8, 9223372036854775807), ' ')
                   || ' ' || text AS text
          FROM documents WHERE len({_TOKS}) >= 8
        ), corpus AS (
          SELECT * FROM orig UNION ALL SELECT * FROM synth
        ), base AS (
          SELECT doc_id,
                 array_to_string(list_slice({_TOKS}, 1, 8), ' ') AS pre,
                 array_to_string(list_slice({_TOKS}, -8, 9223372036854775807), ' ')
                   AS suf,
                 len({_TOKS}) AS n
          FROM corpus
        ), eligible AS (
          SELECT * FROM base WHERE n >= 8
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.suf AS overlap_text
        FROM eligible a JOIN eligible b
          ON {_H56.format(x="a.suf")} = {_H56.format(x="b.pre")}
         AND a.doc_id <> b.doc_id AND a.suf = b.pre
    """

    # C4-style cross-corpus line dedup: 8-token windows as lines, a
    # line in >= 2 distinct docs removed everywhere; reassembly via
    # the dedup_passages struct-sort pattern (coalesce '' because
    # DuckDB's array_to_string of an empty list is NULL, Spark's '').
    sql["dedup_line_dedup"] = f"""
        WITH t AS (
          SELECT doc_id, {_TOKS} AS toks FROM documents
        ), nz AS (
          SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        ), lines AS (
          SELECT doc_id, (start // 8)::BIGINT AS chunk_id,
                 array_to_string(list_slice(toks, start + 1, start + 8), ' ')
                   AS line
          FROM (SELECT doc_id, toks, unnest(range(0, n, 8)) AS start FROM nz)
        ), freq AS (
          SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS n_docs
          FROM lines GROUP BY md5(line)
        ), flagged AS (
          SELECT l.doc_id, l.chunk_id, l.line,
                 coalesce(f.n_docs >= 2, FALSE) AS rm
          FROM lines l LEFT JOIN freq f ON f.h = md5(l.line)
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_lines,
               SUM(CASE WHEN rm THEN 1 ELSE 0 END)::BIGINT AS n_removed,
               coalesce(array_to_string(
                 list_transform(
                   list_sort(list({{'chunk_id': chunk_id, 'chunk_text': line}})
                             FILTER (NOT rm)),
                   x -> x.chunk_text),
                 ' '), '') AS text_kept
        FROM flagged GROUP BY doc_id
    """

    # Flesch / Flesch-Kincaid: vowel-group syllables (floored at 1 per
    # word), [.!?]-run sentences floored at 1; same expression order
    # as the operator, rounded at 4.
    sql["text_readability"] = f"""
        WITH base AS (
          SELECT doc_id, text, {_TOKS} AS tk,
                 greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences
          FROM documents
        ), syl AS (
          SELECT doc_id, len(tk) AS nw, n_sentences,
                 CASE WHEN len(tk) > 0 THEN
                   list_sum(list_transform(tk, t -> greatest(
                     len(regexp_extract_all(lower(t), '[aeiouy]+')), 1)))
                 END AS ns
          FROM base
        )
        SELECT doc_id,
               nw::BIGINT AS n_words,
               n_sentences::BIGINT AS n_sentences,
               ns::BIGINT AS n_syllables,
               CASE WHEN nw > 0 THEN
                 ROUND(206.835 - 1.015 * (nw::DOUBLE / n_sentences::DOUBLE)
                       - 84.6 * (ns::DOUBLE / nw::DOUBLE), 4)
               END AS flesch,
               CASE WHEN nw > 0 THEN
                 ROUND(0.39 * (nw::DOUBLE / n_sentences::DOUBLE)
                       + 11.8 * (ns::DOUBLE / nw::DOUBLE) - 15.59, 4)
               END AS fk_grade
        FROM syl
    """

    # Compaction planner: row size = 8 (doc_id) + strlen(text) +
    # strlen(lang) + 8 (n_chars) — the operator's schema walk with
    # source as the partition column; 4 KiB target, tiny = target/8.
    sql["etl_compaction_plan"] = """
        WITH sized AS (
          SELECT source,
                 8 + coalesce(strlen(text), 0)
                   + coalesce(strlen(lang), 0) + 8 AS row_bytes
          FROM documents
        ), agg AS (
          SELECT source, COUNT(*)::BIGINT AS n_rows,
                 SUM(row_bytes)::BIGINT AS est_bytes
          FROM sized GROUP BY source
        )
        SELECT source, n_rows, est_bytes,
               greatest(1, ceil(est_bytes / 4096))::BIGINT AS n_files_target,
               CASE WHEN est_bytes > 4096 THEN 'split'
                    WHEN est_bytes < 512.0 THEN 'tiny'
                    ELSE 'ok' END AS action
        FROM agg
    """

    # CCNet head/middle/tail buckets: the shared held-out trigram
    # chain, ntile(3) within each language over (ppl, doc_id) order.
    sql["quality_ppl_buckets"] = f"""
        WITH {_tri_scored}, bucketed AS (
          SELECT s.doc_id, d.lang, s.n_tokens, s.ppl,
                 ntile(3) OVER (
                   PARTITION BY d.lang ORDER BY s.ppl, s.doc_id
                 )::BIGINT AS bucket
          FROM scored s JOIN documents d USING (doc_id)
        )
        SELECT doc_id, lang, n_tokens, ppl, bucket,
               CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket_label
        FROM bucketed
    """

    # DCT pHash: replay the synthetic pixel formula on the 32x32
    # nearest grid, then the EXACT integer DCT — the same fixed-point
    # cosine table the operator multiplies by (literal int values from
    # the shared phash_cos_table), separable two-stage sums, 8x8 block
    # minus DC, lower median (rn 32 of 63), 63-bit pack.
    from graph_etl_spark.operators.multimodal import (
        phash_cos_table,
        phash_wide_layout,
    )

    def _ph_chain_core(k: int) -> str:
        """pHash replay CTE chain through `med` for a k×k DCT block:
        the synthetic pixel formula on the 32×32 nearest grid, the
        exact integer separable DCT against the shared fixed-point
        cosine table, flat AC index u·k+v, lower median at
        rn (k²−2)//2 + 1. k=8 feeds the 63-bit single-long oracles;
        k=16 the wide array-of-longs one (round 16)."""
        tab = phash_cos_table(32, k)
        vals = ", ".join(
            f"({u}, {x}, {c})"
            for u, row in enumerate(tab)
            for x, c in enumerate(row)
        )
        rn_med = (k * k - 2) // 2 + 1
        return f"""b AS (
          SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS shift,
                 8 + (doc_id // 4) % 9 AS w,
                 8 + ((doc_id // 4) // 9) % 9 AS h
          FROM documents
        ), ct(u, x, c) AS (VALUES {vals}),
        s AS (
          SELECT b.doc_id, gy.i AS gy, gx.i AS gx,
                 (gy.i * b.h) // 32 AS sy, (gx.i * b.w) // 32 AS sx
          FROM b, range(0, 32) AS gy(i), range(0, 32) AS gx(i)
        ), gray AS (
          SELECT s.doc_id, s.gy, s.gx, {_ah_gray} AS g
          FROM s JOIN b ON s.doc_id = b.doc_id
        ), s1 AS (
          SELECT gray.doc_id, cy.u AS u, gray.gx,
                 SUM(gray.g * cy.c)::BIGINT AS v1
          FROM gray JOIN ct cy ON cy.x = gray.gy
          GROUP BY gray.doc_id, cy.u, gray.gx
        ), coeffs AS (
          SELECT s1.doc_id, s1.u, cx.u AS v,
                 SUM(s1.v1 * cx.c)::BIGINT AS coeff
          FROM s1 JOIN ct cx ON cx.x = s1.gx
          GROUP BY s1.doc_id, s1.u, cx.u
        ), flat AS (
          SELECT doc_id, u * {k} + v AS i, coeff
          FROM coeffs WHERE u * {k} + v >= 1
        ), med AS (
          SELECT doc_id, coeff AS m FROM (
            SELECT doc_id, coeff,
                   row_number() OVER (
                     PARTITION BY doc_id ORDER BY coeff) AS rn
            FROM flat) WHERE rn = {rn_med}
        )"""

    # shared k=8 pHash CTE chain (through `hashes`): reused verbatim
    # by the dedup grouping oracle and the r15 hamming-pairs oracle
    _ph_chain = f"""{_ph_chain_core(8)}, hashes AS (
          SELECT flat.doc_id,
                 SUM(CASE WHEN flat.coeff > med.m
                          THEN 1::BIGINT << (flat.i - 1)
                          ELSE 0 END)::BIGINT AS phash
          FROM flat JOIN med USING (doc_id) GROUP BY flat.doc_id
        )"""
    sql["mm_image_phash_dedup"] = f"""
        WITH {_ph_chain}
        SELECT phash, COUNT(*)::BIGINT AS n_images,
               MIN(doc_id)::BIGINT AS canonical_doc
        FROM hashes GROUP BY phash
    """

    # Hamming near-dup image pairs: the same fingerprint chain, then
    # the exact distance filter — the oracle may go all-pairs at this
    # scale; the operator's pigeonhole join is plan-shape only.
    sql["mm_image_phash_pairs"] = f"""
        WITH {_ph_chain}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.phash, b.phash))::INT AS hamming
        FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """

    # WIDE 255-bit pHash pairs (round 16): the k=16 replay packed by
    # the SHARED phash_wide_layout into 7 longs (one per pigeonhole
    # segment); exact Hamming = per-long bit_count(xor) summed. The
    # oracle's per-long equi-join mirrors the operator's fingerprint
    # layout but may go all-pairs at this scale.
    _w_widths = phash_wide_layout(255, 7)
    _w_offs, _o = [], 0
    for _w in _w_widths:
        _w_offs.append(_o)
        _o += _w
    _seg_vals = ", ".join(
        f"({j}, {lo}, {w})"
        for j, (lo, w) in enumerate(zip(_w_offs, _w_widths))
    )
    sql["mm_image_phash_pairs_wide"] = f"""
        WITH {_ph_chain_core(16)},
        seg(j, lo, w) AS (VALUES {_seg_vals}),
        packed AS (
          SELECT flat.doc_id, seg.j,
                 SUM(CASE WHEN flat.coeff > med.m
                          THEN 1::BIGINT << (flat.i - 1 - seg.lo)
                          ELSE 0 END)::BIGINT AS val
          FROM flat JOIN med USING (doc_id)
          JOIN seg ON flat.i - 1 >= seg.lo AND flat.i - 1 < seg.lo + seg.w
          GROUP BY flat.doc_id, seg.j
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(bit_count(xor(a.val, b.val)))::INT AS hamming
        FROM packed a JOIN packed b ON a.j = b.j AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING SUM(bit_count(xor(a.val, b.val))) <= 6
    """

    # CLIP-score image-text alignment filter (round 16): the fixture's
    # paired text side is the reversed embedding on every 5th vector
    # and an FP-exact 0.5x copy otherwise; cosine at 4dp, the exact
    # lower-interpolation percentile threshold, keep = score >= thr
    # (NULL-score rows keep their row, keep = false).
    sql["sim_clip_filter"] = """
        WITH prs AS (
          SELECT vec_id AS pair_id,
                 embedding::DOUBLE[] AS img,
                 CASE WHEN vec_id % 5 = 0
                      THEN list_reverse(embedding::DOUBLE[])
                      ELSE list_transform(
                        embedding, x -> (x * 0.5::DOUBLE)::FLOAT)::DOUBLE[]
                 END AS txt
          FROM embeddings
        ), scored AS (
          SELECT pair_id,
                 CASE WHEN sqrt(list_dot_product(img, img))
                           * sqrt(list_dot_product(txt, txt)) > 0
                      THEN ROUND(list_dot_product(img, txt)
                           / (sqrt(list_dot_product(img, img))
                              * sqrt(list_dot_product(txt, txt))), 4)
                 END AS clip_score
          FROM prs
        ), nn AS (
          SELECT clip_score,
                 row_number() OVER (ORDER BY clip_score, pair_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM scored WHERE clip_score IS NOT NULL
        ), thr AS (
          SELECT MAX(CASE WHEN rn = floor(0.2 * (n - 1))::BIGINT + 1
                          THEN clip_score END) AS t
          FROM nn
        )
        SELECT pair_id, clip_score, t AS threshold,
               COALESCE(clip_score >= t, FALSE) AS keep
        FROM scored, thr
    """

    # Lexical near-dup contamination (round 16, post-freeze): the
    # proven minhash CTE chain run per SIDE (eval = docs < 20, train =
    # docs >= 20 + ten planted exact copies), asymmetric band join,
    # candidate-bounded exact Jaccard, per-eval argmax (j desc, tid
    # desc — the packed_max_by tie order), one row per eval doc.
    sql["dedup_minhash_contamination"] = f"""
        WITH ev AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 20
        ), tr AS (
          SELECT doc_id, text FROM documents WHERE doc_id >= 20
          UNION ALL
          SELECT doc_id + 400000 AS doc_id, text
          FROM documents WHERE doc_id < 10
        ),
        eshd AS (SELECT doc_id, unnest({_sh}) AS s FROM ev),
        tshd AS (SELECT doc_id, unnest({_sh}) AS s FROM tr),
        esz AS (SELECT doc_id, COUNT(*)::BIGINT AS ne
                FROM eshd GROUP BY doc_id),
        tsz AS (SELECT doc_id, COUNT(*)::BIGINT AS nt
                FROM tshd GROUP BY doc_id),
        ehs AS (SELECT doc_id, list_transform({_sh}, s ->
                  ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM ev),
        esigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM ehs),
        ths AS (SELECT doc_id, list_transform({_sh}, s ->
                  ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM tr),
        tsigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM ths),
        eband AS (
          SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                 unnest([{band_exprs}]) AS band_hash
          FROM esigs
        ), tband AS (
          SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                 unnest([{band_exprs}]) AS band_hash
          FROM tsigs
        ), cands AS (
          SELECT DISTINCT e.doc_id AS query_id, t.doc_id AS tid
          FROM eband e JOIN tband t
            ON e.band_idx = t.band_idx AND e.band_hash = t.band_hash
        ), inter AS (
          SELECT c.query_id, c.tid, COUNT(*)::BIGINT AS i
          FROM cands c
          JOIN eshd x ON x.doc_id = c.query_id
          JOIN tshd y ON y.doc_id = c.tid AND y.s = x.s
          GROUP BY 1, 2
        ), scored AS (
          SELECT c.query_id, c.tid,
                 ROUND(COALESCE(i.i, 0)
                       / (esz.ne + tsz.nt - COALESCE(i.i, 0))::DOUBLE, 6)
                   AS j
          FROM cands c
          LEFT JOIN inter i
            ON i.query_id = c.query_id AND i.tid = c.tid
          JOIN esz ON esz.doc_id = c.query_id
          JOIN tsz ON tsz.doc_id = c.tid
        ), best AS (
          SELECT query_id, j, tid FROM (
            SELECT query_id, j, tid,
                   row_number() OVER (
                     PARTITION BY query_id ORDER BY j DESC, tid DESC) AS rn
            FROM scored WHERE j IS NOT NULL) WHERE rn = 1
        )
        SELECT ev.doc_id AS query_id, best.j AS max_jaccard,
               best.tid AS nearest_train_id,
               COALESCE(best.j >= 0.8, FALSE) AS contaminated
        FROM ev LEFT JOIN best ON best.query_id = ev.doc_id
    """

    # Video keyframe dedup (round 16, post-freeze): replay the variant
    # fixture's luma formula — frame diffs (shift cancels) -> cut
    # frames -> keyframes (frame 0 + cuts) -> per-keyframe integer DCT
    # pHash on the 32x32 nearest grid (shift included; invariance is
    # the OPERATOR's claim, the oracle replays the raw arithmetic) ->
    # ordered signature string -> (n_scenes, sig) grouping.
    _vk_vals = ", ".join(
        f"({u}, {x}, {c})"
        for u, row in enumerate(phash_cos_table(32, 8))
        for x, c in enumerate(row)
    )
    sql["mm_video_keyframe_dedup"] = f"""
        WITH v AS (
          SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS shift,
                 8 + ((doc_id // 2) % 5) * 2 AS w,
                 8 + (((doc_id // 2) // 5) % 5) * 2 AS h,
                 4 + (doc_id // 2) % 3 AS nf,
                 1 + (doc_id // 2) % 3 AS sl
          FROM documents
        ), diffs AS (
          SELECT v.doc_id, f.f, (v.w * v.h) AS npix,
                 SUM(abs(
                   ((v.base * 19 + (f.f // v.sl) * 97
                     + y.y * 11 + x.x * 7) % 250)
                   - ((v.base * 19 + ((f.f - 1) // v.sl) * 97
                       + y.y * 11 + x.x * 7) % 250)))::BIGINT AS diff_sum
          FROM v, range(1, 6) AS f(f), range(0, 16) AS y(y),
               range(0, 16) AS x(x)
          WHERE f.f < v.nf AND y.y < v.h AND x.x < v.w
          GROUP BY v.doc_id, f.f, v.w, v.h
        ), keyframes AS (
          SELECT doc_id, 0 AS f FROM v
          UNION ALL
          SELECT doc_id, f FROM diffs WHERE diff_sum > 8.0 * npix
        ), kf AS (
          SELECT doc_id, f,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY f) AS scene_idx
          FROM keyframes
        ), ct(u, x, c) AS (VALUES {_vk_vals}),
        grid AS (
          SELECT kf.doc_id, kf.scene_idx, gy.i AS gy, gx.i AS gx,
                 ((v.base * 19 + (kf.f // v.sl) * 97
                   + ((gy.i * v.h) // 32) * 11
                   + ((gx.i * v.w) // 32) * 7) % 250 + v.shift) AS g
          FROM kf JOIN v USING (doc_id),
               range(0, 32) AS gy(i), range(0, 32) AS gx(i)
        ), g1 AS (
          SELECT grid.doc_id, grid.scene_idx, cy.u AS u, grid.gx,
                 SUM(grid.g * cy.c)::BIGINT AS v1
          FROM grid JOIN ct cy ON cy.x = grid.gy
          GROUP BY grid.doc_id, grid.scene_idx, cy.u, grid.gx
        ), co AS (
          SELECT g1.doc_id, g1.scene_idx, g1.u, cx.u AS vv,
                 SUM(g1.v1 * cx.c)::BIGINT AS coeff
          FROM g1 JOIN ct cx ON cx.x = g1.gx
          GROUP BY g1.doc_id, g1.scene_idx, g1.u, cx.u
        ), fl AS (
          SELECT doc_id, scene_idx, u * 8 + vv AS i, coeff
          FROM co WHERE u * 8 + vv >= 1
        ), md AS (
          SELECT doc_id, scene_idx, coeff AS m FROM (
            SELECT doc_id, scene_idx, coeff,
                   row_number() OVER (
                     PARTITION BY doc_id, scene_idx ORDER BY coeff) AS rn
            FROM fl) WHERE rn = 32
        ), kh AS (
          SELECT fl.doc_id, fl.scene_idx,
                 SUM(CASE WHEN fl.coeff > md.m
                          THEN 1::BIGINT << (fl.i - 1)
                          ELSE 0 END)::BIGINT AS h
          FROM fl JOIN md USING (doc_id, scene_idx)
          GROUP BY fl.doc_id, fl.scene_idx
        ), sig AS (
          SELECT doc_id, COUNT(*)::INT AS n_scenes,
                 string_agg(h::VARCHAR, ':' ORDER BY scene_idx)
                   AS keyframe_sig
          FROM kh GROUP BY doc_id
        )
        SELECT n_scenes, keyframe_sig, COUNT(*)::BIGINT AS n_videos,
               MIN(doc_id)::BIGINT AS canonical_doc
        FROM sig GROUP BY n_scenes, keyframe_sig
    """

    # Video keyframe pairs (round 17): replay the TAIL-variant fixture
    # (group_size 3; variant 1 = +1 brightness shift, variant 2 = last
    # scene's pattern + 131 inside the %250), per-keyframe pHash as in
    # the dedup oracle, then the operator's exact pair rule — equal
    # n_scenes, at least one aligned keyframe hash EXACTLY shared (the
    # candidate contract), max aligned-keyframe Hamming <= 6.
    sql["mm_video_keyframe_pairs"] = f"""
        WITH v AS (
          SELECT doc_id, doc_id // 3 AS base,
                 CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS shift,
                 (doc_id % 3 >= 2)::INT AS tailvar,
                 8 + ((doc_id // 3) % 5) * 2 AS w,
                 8 + (((doc_id // 3) // 5) % 5) * 2 AS h,
                 4 + (doc_id // 3) % 3 AS nf,
                 1 + (doc_id // 3) % 3 AS sl,
                 11 + 2 * ((doc_id // 3) % 97) AS sy,
                 7 + 2 * (((doc_id // 3) // 97) % 89) AS sx
          FROM documents
        ), diffs AS (
          SELECT v.doc_id, f.f, (v.w * v.h) AS npix,
                 SUM(abs(
                   ((v.base * 19 + (f.f // v.sl) * 97
                     + CASE WHEN v.tailvar = 1
                            AND (f.f // v.sl) = ((v.nf - 1) // v.sl)
                            THEN 131 ELSE 0 END
                     + y.y * v.sy + x.x * v.sx) % 250)
                   - ((v.base * 19 + ((f.f - 1) // v.sl) * 97
                       + CASE WHEN v.tailvar = 1
                              AND ((f.f - 1) // v.sl) = ((v.nf - 1) // v.sl)
                              THEN 131 ELSE 0 END
                       + y.y * v.sy + x.x * v.sx) % 250)))::BIGINT AS diff_sum
          FROM v, range(1, 6) AS f(f), range(0, 16) AS y(y),
               range(0, 16) AS x(x)
          WHERE f.f < v.nf AND y.y < v.h AND x.x < v.w
          GROUP BY v.doc_id, f.f, v.w, v.h
        ), keyframes AS (
          SELECT doc_id, 0 AS f FROM v
          UNION ALL
          SELECT doc_id, f FROM diffs WHERE diff_sum > 8.0 * npix
        ), kf AS (
          SELECT doc_id, f,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY f) AS scene_idx
          FROM keyframes
        ), ct(u, x, c) AS (VALUES {_vk_vals}),
        grid AS (
          SELECT kf.doc_id, kf.scene_idx, gy.i AS gy, gx.i AS gx,
                 ((v.base * 19 + (kf.f // v.sl) * 97
                   + CASE WHEN v.tailvar = 1
                          AND (kf.f // v.sl) = ((v.nf - 1) // v.sl)
                          THEN 131 ELSE 0 END
                   + ((gy.i * v.h) // 32) * v.sy
                   + ((gx.i * v.w) // 32) * v.sx) % 250 + v.shift) AS g
          FROM kf JOIN v USING (doc_id),
               range(0, 32) AS gy(i), range(0, 32) AS gx(i)
        ), g1 AS (
          SELECT grid.doc_id, grid.scene_idx, cy.u AS u, grid.gx,
                 SUM(grid.g * cy.c)::BIGINT AS v1
          FROM grid JOIN ct cy ON cy.x = grid.gy
          GROUP BY grid.doc_id, grid.scene_idx, cy.u, grid.gx
        ), co AS (
          SELECT g1.doc_id, g1.scene_idx, g1.u, cx.u AS vv,
                 SUM(g1.v1 * cx.c)::BIGINT AS coeff
          FROM g1 JOIN ct cx ON cx.x = g1.gx
          GROUP BY g1.doc_id, g1.scene_idx, g1.u, cx.u
        ), fl AS (
          SELECT doc_id, scene_idx, u * 8 + vv AS i, coeff
          FROM co WHERE u * 8 + vv >= 1
        ), md AS (
          SELECT doc_id, scene_idx, coeff AS m FROM (
            SELECT doc_id, scene_idx, coeff,
                   row_number() OVER (
                     PARTITION BY doc_id, scene_idx ORDER BY coeff) AS rn
            FROM fl) WHERE rn = 32
        ), kh AS (
          SELECT fl.doc_id, fl.scene_idx,
                 SUM(CASE WHEN fl.coeff > md.m
                          THEN 1::BIGINT << (fl.i - 1)
                          ELSE 0 END)::BIGINT AS h
          FROM fl JOIN md USING (doc_id, scene_idx)
          GROUP BY fl.doc_id, fl.scene_idx
        ), sig AS (
          SELECT doc_id, COUNT(*)::INT AS n_scenes FROM kh GROUP BY doc_id
        ), pj AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 MAX(bit_count(xor(a.h, b.h)))::INT AS max_scene_hamming,
                 bool_or(a.h = b.h) AS any_exact
          FROM kh a JOIN kh b
            ON a.scene_idx = b.scene_idx AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT pj.id_a::BIGINT AS id_a, pj.id_b::BIGINT AS id_b,
               sa.n_scenes AS n_scenes, pj.max_scene_hamming
        FROM pj
        JOIN sig sa ON sa.doc_id = pj.id_a
        JOIN sig sb ON sb.doc_id = pj.id_b
        WHERE sa.n_scenes = sb.n_scenes AND pj.any_exact
          AND pj.max_scene_hamming <= 6
    """

    # Mojibake scrub (round 16, post-freeze): replay the injection
    # (Ã© for 'a' on %3==0, â€™ for 'e' on %3==1), count each marker
    # as (len - len(without)) / len(marker) BEFORE repair, then the
    # identical chained literal replaces of MOJIBAKE_MAP.
    from graph_etl_spark.operators.quality import MOJIBAKE_MAP

    _mj_count = " + ".join(
        f"(length(text) - length(replace(text, '{bad}', ''))) / {len(bad)}.0"
        for bad, _ in MOJIBAKE_MAP
    )
    _mj_fixed = "text"
    for _bad, _good in MOJIBAKE_MAP:
        _mj_fixed = f"replace({_mj_fixed}, '{_bad}', '{_good}')"
    sql["quality_mojibake_scrub"] = f"""
        WITH damaged AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                        THEN replace(text, 'a', 'Ã©')
                      WHEN doc_id % 3 = 1
                        THEN replace(text, 'e', 'â€™')
                      ELSE text END AS text
          FROM documents
        )
        SELECT doc_id,
               COALESCE(ROUND({_mj_count}, 0), 0)::BIGINT AS n_mojibake,
               {_mj_fixed} AS text_fixed
        FROM damaged
    """

    # Embedding outlier audit (round 16, post-freeze): per-dim stats
    # from the same exact decimal sums, mu/sd by the same IEEE
    # expression order, per-dim terms rounded to 8dp and summed as
    # decimals (add-order-free), z2 at 4dp, flag at 4.0 x active dims.
    sql["sim_embedding_outliers"] = """
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 300000 AS vec_id,
                 list_transform(embedding,
                                x -> (x * 10.0::DOUBLE)::FLOAT) AS embedding
          FROM embeddings WHERE vec_id < 5
        ), dims AS (SELECT unnest(range(1, 65)) AS pos),
        el AS (
          SELECT c.vec_id, d.pos,
                 ROUND(c.embedding[d.pos]::DOUBLE, 6)::DECIMAL(28,6) AS x6
          FROM corpus c, dims d
        ), st AS (
          SELECT pos, SUM(x6) AS s,
                 SUM((x6::DECIMAL(16,6) * x6::DECIMAL(16,6))::DECIMAL(33,12))
                   AS s2,
                 COUNT(x6) AS n
          FROM el GROUP BY pos
        ), ms AS (
          SELECT pos, s::DOUBLE / n AS mu,
                 CASE WHEN (s2::DOUBLE / n
                            - (s::DOUBLE / n) * (s::DOUBLE / n)) > 0
                      THEN sqrt(s2::DOUBLE / n
                                - (s::DOUBLE / n) * (s::DOUBLE / n))
                      ELSE 0.0 END AS sd
          FROM st
        ), na AS (SELECT COUNT(*) AS n_active FROM ms WHERE sd > 0),
        terms AS (
          SELECT el.vec_id,
                 CASE WHEN ms.sd > 0
                      THEN ROUND(((el.x6::DOUBLE - ms.mu) / ms.sd)
                                 * ((el.x6::DOUBLE - ms.mu) / ms.sd),
                                 8)::DECIMAL(28,8)
                      ELSE 0::DECIMAL(28,8) END AS t
          FROM el JOIN ms USING (pos)
        ), z AS (
          SELECT vec_id, ROUND(SUM(t)::DOUBLE, 4) AS z2
          FROM terms GROUP BY vec_id
        )
        SELECT z.vec_id, z.z2,
               COALESCE(z.z2 > 4.0 * na.n_active, FALSE) AS is_outlier
        FROM z, na
    """

    # Audio fingerprint dedup: replay the polarity fixture's sample
    # formula (the variant sign drops out of s², so the oracle scores
    # the unsigned base), window energies, delta-sign pack, group.
    sql["mm_audio_fingerprint_dedup"] = """
        WITH meta AS (
          SELECT doc_id, doc_id // 2 AS base,
                 64 + (doc_id // 2) % 129 AS n
          FROM documents
        ), samp AS (
          SELECT m.doc_id, i.i, (i.i // 8)::INT AS window_idx,
                 ((m.base * 3571 + i.i * 9973) % 65535) - 32767 AS s
          FROM meta m, range(0, 192) AS i(i)
          WHERE i.i < m.n
        ), en AS (
          SELECT doc_id, window_idx, SUM(s * s)::BIGINT AS energy
          FROM samp GROUP BY doc_id, window_idx
        ), delta AS (
          SELECT doc_id, window_idx,
                 energy > lag(energy) OVER (
                   PARTITION BY doc_id ORDER BY window_idx) AS up
          FROM en
        ), fp AS (
          SELECT doc_id, COUNT(*)::INT AS n_windows,
                 COALESCE(bit_xor(CASE WHEN up
                          THEN (1::BIGINT << ((window_idx - 1) % 63))
                          ELSE 0 END), 0)::BIGINT AS fingerprint
          FROM delta GROUP BY doc_id
        )
        SELECT n_windows, fingerprint, COUNT(*)::BIGINT AS n_clips,
               MIN(doc_id)::BIGINT AS canonical_doc
        FROM fp GROUP BY n_windows, fingerprint
    """

    # Audio fingerprint pairs (round 17): replay the neardup fixture
    # (n = 256 + base % 257 samples; variant >= 2 zeroes the last
    # 8-sample window; the polarity sign drops out of s²), the
    # window-energy delta-sign pack, then the ALL-PAIRS Hamming <= 1
    # filter blocked on equal n_windows — the operator's pigeonhole
    # join has recall 1.0 by construction, so brute force IS its
    # semantics.
    sql["mm_audio_fingerprint_pairs"] = """
        WITH meta AS (
          SELECT doc_id, doc_id // 3 AS base, doc_id % 3 AS variant,
                 256 + (doc_id // 3) % 257 AS n
          FROM documents
        ), samp AS (
          SELECT m.doc_id, i.i, (i.i // 8)::INT AS window_idx,
                 CASE WHEN m.variant >= 2 AND i.i >= ((m.n - 1) // 8) * 8
                      THEN 0
                      ELSE ((m.base * 3571
                             + i.i * (9973 + 2 * (m.base % 1237)))
                            % 65535) - 32767
                 END AS s
          FROM meta m, range(0, 512) AS i(i)
          WHERE i.i < m.n
        ), en AS (
          SELECT doc_id, window_idx, SUM(s * s)::BIGINT AS energy
          FROM samp GROUP BY doc_id, window_idx
        ), delta AS (
          SELECT doc_id, window_idx,
                 energy > lag(energy) OVER (
                   PARTITION BY doc_id ORDER BY window_idx) AS up
          FROM en
        ), fp AS (
          SELECT doc_id, COUNT(*)::INT AS n_windows,
                 COALESCE(bit_xor(CASE WHEN up
                          THEN (1::BIGINT << ((window_idx - 1) % 63))
                          ELSE 0 END), 0)::BIGINT AS fingerprint
          FROM delta GROUP BY doc_id
        )
        SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
               a.n_windows AS n_windows,
               bit_count(xor(a.fingerprint, b.fingerprint))::INT AS hamming
        FROM fp a JOIN fp b
          ON a.n_windows = b.n_windows AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 1
    """

    # Scene cuts: replay the multi-scene luma formula — per frame
    # pair the exact integer |diff| sum over the clip's pixels; cut
    # iff mean |diff| > 8 (SUM > 8.0 * npix, the operator's compare).
    sql["mm_video_scene_cuts"] = """
        WITH dims AS (
          SELECT doc_id,
                 8 + (doc_id % 5) * 2 AS w,
                 8 + ((doc_id // 5) % 5) * 2 AS h,
                 4 + doc_id % 3 AS nf,
                 1 + doc_id % 3 AS sl
          FROM documents
        ), pix AS (
          SELECT d.doc_id, f.f, d.w, d.h,
                 abs(((d.doc_id * 19 + (f.f // d.sl) * 97
                       + y.y * 11 + x.x * 7) % 256)
                     - ((d.doc_id * 19 + ((f.f - 1) // d.sl) * 97
                         + y.y * 11 + x.x * 7) % 256)) AS ad
          FROM dims d,
               range(1, 6) AS f(f),
               range(0, 16) AS y(y),
               range(0, 16) AS x(x)
          WHERE f.f < d.nf AND y.y < d.h AND x.x < d.w
        )
        SELECT doc_id, f::INT AS frame_idx, (w * h)::INT AS n_pixels,
               SUM(ad)::BIGINT AS diff_sum,
               (SUM(ad) > 8.0 * (w * h)) AS is_cut
        FROM pix GROUP BY doc_id, f, w, h
    """

    # Difference-in-differences: integer-DIV microsecond midpoint,
    # H56 variant assignment, decimal cell sums, one fixed DiD
    # expression over UNROUNDED means, rounded at the end.
    sql["events_ab_did"] = f"""
        WITH bounds AS (
          SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP)))
                  + MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
          FROM events
        ), base AS (
          SELECT {_H56.format(x="user_id::VARCHAR")} % 2 AS v,
                 (epoch_us(CAST(ts AS TIMESTAMP)) >= b.mid)::INT AS post,
                 ROUND(value, 4)::DECIMAL(18,4) AS x
          FROM events, bounds b
          WHERE user_id IS NOT NULL AND event_type = 'purchase'
        ), agg AS (
          SELECT
            SUM(CASE WHEN v = 0 AND post = 0 THEN 1 ELSE 0 END)::BIGINT
              AS n_pre_control,
            SUM(CASE WHEN v = 0 AND post = 1 THEN 1 ELSE 0 END)::BIGINT
              AS n_post_control,
            SUM(CASE WHEN v = 1 AND post = 0 THEN 1 ELSE 0 END)::BIGINT
              AS n_pre_treat,
            SUM(CASE WHEN v = 1 AND post = 1 THEN 1 ELSE 0 END)::BIGINT
              AS n_post_treat,
            (SUM(CASE WHEN v = 0 AND post = 0 THEN x END))::DOUBLE AS s00,
            (SUM(CASE WHEN v = 0 AND post = 1 THEN x END))::DOUBLE AS s01,
            (SUM(CASE WHEN v = 1 AND post = 0 THEN x END))::DOUBLE AS s10,
            (SUM(CASE WHEN v = 1 AND post = 1 THEN x END))::DOUBLE AS s11
          FROM base
        )
        SELECT n_pre_control, n_post_control, n_pre_treat, n_post_treat,
          ROUND(CASE WHEN n_pre_control > 0
                THEN s00 / n_pre_control::DOUBLE END, 6) AS mean_pre_control,
          ROUND(CASE WHEN n_post_control > 0
                THEN s01 / n_post_control::DOUBLE END, 6) AS mean_post_control,
          ROUND(CASE WHEN n_pre_treat > 0
                THEN s10 / n_pre_treat::DOUBLE END, 6) AS mean_pre_treat,
          ROUND(CASE WHEN n_post_treat > 0
                THEN s11 / n_post_treat::DOUBLE END, 6) AS mean_post_treat,
          ROUND(((CASE WHEN n_post_treat > 0
                  THEN s11 / n_post_treat::DOUBLE END)
                 - (CASE WHEN n_pre_treat > 0
                    THEN s10 / n_pre_treat::DOUBLE END))
                - ((CASE WHEN n_post_control > 0
                    THEN s01 / n_post_control::DOUBLE END)
                   - (CASE WHEN n_pre_control > 0
                      THEN s00 / n_pre_control::DOUBLE END)), 6) AS did
        FROM agg
    """

    # A/B power analysis: conversion = >= 15 purchases; z-sum constant
    # computed by the same Python expression as the operator; VALUES
    # cast to DOUBLE (DuckDB would type bare 0.01 as DECIMAL).
    _pa_zsum2 = (1.959964 + 0.841621) ** 2
    sql["events_power_analysis"] = f"""
        WITH per_user AS (
          SELECT user_id AS u,
                 (SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  >= 15)::INT AS conv
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ), base AS (
          SELECT COUNT(*)::BIGINT AS n_users, SUM(conv)::BIGINT AS n_conv
          FROM per_user
        ), span AS (
          SELECT (MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                  - MIN(epoch_us(CAST(ts AS TIMESTAMP))))
                 / 86400000000.0 AS days
          FROM events
        ), mde(mde_rel) AS (
          VALUES (0.01::DOUBLE), (0.02::DOUBLE),
                 (0.05::DOUBLE), (0.10::DOUBLE)
        ), calc AS (
          SELECT mde_rel, n_conv::DOUBLE / n_users::DOUBLE AS p,
                 n_users, days
          FROM base, span, mde
        )
        SELECT mde_rel,
               ROUND(p, 6) AS base_rate,
               ROUND(p * (1.0 + mde_rel), 6) AS target_rate,
               CEIL({_pa_zsum2!r}
                    * (p * (1.0 - p)
                       + (p * (1.0 + mde_rel)) * (1.0 - p * (1.0 + mde_rel)))
                    / (p * mde_rel) / (p * mde_rel))::BIGINT AS n_per_arm,
               ROUND(2.0 * CEIL({_pa_zsum2!r}
                    * (p * (1.0 - p)
                       + (p * (1.0 + mde_rel)) * (1.0 - p * (1.0 + mde_rel)))
                    / (p * mde_rel) / (p * mde_rel))
                    / (n_users::DOUBLE / days), 6) AS days_needed
        FROM calc
    """

    # SoftDeDup reweighting: the same recursive component closure as
    # neardup_survivors, joined back per doc with 1/size weights.
    sql["dedup_soft_weights"] = f"""
        WITH RECURSIVE pairs AS (
          WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
          hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
          sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
          banded AS (
            SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash
            FROM sigs
          )
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), assign AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON d.doc_id = c.id
        ), sizes AS (
          SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
          FROM assign GROUP BY cluster_id
        )
        SELECT a.doc_id, a.cluster_id, s.cluster_size,
               ROUND(1.0 / s.cluster_size::DOUBLE, 6) AS weight
        FROM assign a JOIN sizes s USING (cluster_id)
    """

    # Leakage-free cluster split: the soft-weights pair/CC chain, then
    # dataset_split's H56 permille assignment applied to the CLUSTER id.
    sql["dedup_cluster_split"] = f"""
        WITH RECURSIVE pairs AS (
          WITH sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
          hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
          sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
          banded AS (
            SELECT doc_id, unnest(generate_series(0, 7)) AS band_idx,
                   unnest([{band_exprs}]) AS band_hash
            FROM sigs
          )
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        ), sym AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach(id, r) AS (
          SELECT a, a FROM sym
          UNION
          SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
        ), assign AS (
          SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
          FROM documents d
          LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
            ON d.doc_id = c.id
        )
        SELECT doc_id, cluster_id,
               CASE WHEN bkt < 900 THEN 'train'
                    WHEN bkt < 950 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id, cluster_id,
                 ('0x' || substr(md5('split' || cluster_id::VARCHAR), 1, 14))::BIGINT % 1000 AS bkt
          FROM assign
        )
    """

    # LSH tuning curve: exact capped-Jaccard truth (>= 0.12, the
    # registered ngram threshold) vs banded candidates at 2/4/8 bands
    # over the SAME 16-perm signature formula; counts + rounded recall.
    _lsh_band_cfg = []
    for _b in (2, 4, 8):
        _w = 16 // _b
        _bx = ", ".join(
            f"md5(array_to_string(list_transform("
            f"list_slice(minhash, {_i * _w + 1}, {(_i + 1) * _w}), "
            f"x -> x::VARCHAR), ','))"
            for _i in range(_b)
        )
        _lsh_band_cfg.append((_b, _bx))
    _lsh_selects = []
    for _b, _bx in _lsh_band_cfg:
        _lsh_selects.append(f"""
        SELECT {_b}::BIGINT AS bands,
               (SELECT COUNT(*) FROM cand_{_b})::BIGINT AS n_candidates,
               (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
               (SELECT COUNT(*) FROM truth t
                 SEMI JOIN cand_{_b} c
                 ON t.id_a = c.id_a AND t.id_b = c.id_b)::BIGINT AS n_hits,
               CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
                 ROUND((SELECT COUNT(*) FROM truth t
                        SEMI JOIN cand_{_b} c
                        ON t.id_a = c.id_a AND t.id_b = c.id_b)::DOUBLE
                       / (SELECT COUNT(*) FROM truth)::DOUBLE, 6)
               END AS recall""")
    _lsh_cands = ",\n".join(
        f"""cand_{_b} AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM (SELECT doc_id, unnest(generate_series(0, {_b - 1})) AS band_idx,
                       unnest([{_bx}]) AS band_hash FROM sigs) a
          JOIN (SELECT doc_id, unnest(generate_series(0, {_b - 1})) AS band_idx,
                       unnest([{_bx}]) AS band_hash FROM sigs) b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
        )"""
        for _b, _bx in _lsh_band_cfg
    )
    sql["dedup_lsh_recall_curve"] = f"""
        WITH sh0 AS (
          SELECT doc_id, unnest({_sh}) AS s FROM documents
        ), dfreq AS (
          SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
        ), shf AS (
          SELECT sh0.doc_id, sh0.s FROM sh0 JOIN dfreq USING (s) WHERE df <= 16
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM shf GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
          FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), truth AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE ROUND(inter / (sa.n_sh + sb.n_sh - inter)::DOUBLE, 6) >= 0.12
        ), sh AS (SELECT doc_id, {_sh} AS sh FROM documents),
        hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs FROM sh),
        sigs AS (SELECT doc_id, [{mh_list}] AS minhash FROM hs),
        {_lsh_cands}
        {" UNION ALL ".join(_lsh_selects)}
    """

    return sql


if __name__ == "__main__":
    from graph_etl_spark.session import get_spark

    spark = get_spark("spark-entry-smoke")
    df = entry(spark)
    df.show(30, truncate=False)
    print("rows:", df.count())
