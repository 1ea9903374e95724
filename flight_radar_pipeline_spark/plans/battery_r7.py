"""Round-7 battery additions: categorical independence testing
(chi-square + Cramér's V), robust trend estimation (Theil–Sen),
rank correlation (Spearman with tie-averaged ranks), a two-sided
trade-balance rollup, date-spine backfill gap auditing, sessionized
bounce rates, and an IVF cell-balance index audit.

Each entry pairs the Spark plan with a DuckDB oracle that restates the
semantics independently. Registered into the shared REGISTRY on import
(see __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flight_radar_pipeline_spark.plans.battery import register
from flight_radar_pipeline_spark.sources.readers import load_table
from flight_radar_pipeline_spark.streaming.ledger import (
    link_stream,
    run_microbatches,
    scratch_dir,
)

# --------------------------------------------------------------------------
# chi-square independence: order priority × order status
# --------------------------------------------------------------------------

_CHISQ_ORACLE = """
    with obs as (
        select o_orderpriority as pr, o_orderstatus as st,
               count(*)::double as o
        from orders group by 1, 2
    ), rt as (select pr, sum(o) as r from obs group by pr),
    ct as (select st, sum(o) as c from obs group by st),
    tot as (select sum(o) as n, count(distinct pr) as nr,
                   count(distinct st) as nc from obs)
    select cast(tot.n as bigint) as n,
           cast((nr - 1) * (nc - 1) as bigint) as dof,
           round(sum(o * o * tot.n / (r * c)) - tot.n, 4) as chi2,
           round(sqrt((sum(o * o * tot.n / (r * c)) - tot.n)
                      / (tot.n * least(nr - 1, nc - 1))), 6) as cramers_v
    from obs join rt using (pr) join ct using (st) cross join tot
    group by tot.n, nr, nc
"""


@register("order_priority_chisq", _CHISQ_ORACLE)
def order_priority_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and order
    status → (n, dof, chi2, cramers_v) — the categorical-drift /
    stratification-check statistic (is status distributed the same
    across priorities?). Uses the zero-cell-free identity
    χ² = n·Σ_observed O²/(R·C) − n, so the full r×c grid never
    materializes: one contingency aggregate, two marginal aggregates
    broadcast back onto it, no cross join — scan-speed at any fact
    size, state bounded by r×c. Cramér's V normalizes by
    n·min(r−1, c−1) for an effect size in [0, 1]."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"), F.col("o_orderstatus").alias("st")
    )
    obs = o.groupBy("pr", "st").agg(F.count(F.lit(1)).cast("double").alias("o"))
    rt = obs.groupBy("pr").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("st").agg(F.sum("o").alias("c"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("pr").alias("nr"),
        F.countDistinct("st").alias("nc"),
    )
    joined = (
        obs.join(F.broadcast(rt), "pr")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(tot))
    )
    term = F.col("o") * F.col("o") * F.col("n") / (F.col("r") * F.col("c"))
    return (
        joined.groupBy("n", "nr", "nc")
        .agg(F.sum(term).alias("__s"))
        .select(
            F.col("n").cast("bigint").alias("n"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
            F.round(F.col("__s") - F.col("n"), 4).alias("chi2"),
            F.round(
                F.sqrt(
                    (F.col("__s") - F.col("n"))
                    / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --------------------------------------------------------------------------
# Theil–Sen robust trend over daily means
# --------------------------------------------------------------------------

_THEILSEN_ORACLE = """
    with d as (
        select event_type, date_trunc('day', ts)::date as day,
               avg(value) as mv
        from events group by 1, 2
    ), slopes as (
        select a.event_type,
               (b.mv - a.mv) / date_diff('day', a.day, b.day) as s
        from d a join d b
          on a.event_type = b.event_type and a.day < b.day
    )
    select event_type, cast(count(*) as bigint) as n_pairs,
           round(quantile_cont(s, 0.5), 4) as slope_per_day
    from slopes group by event_type
    order by event_type
"""


@register("event_value_theil_sen", _THEILSEN_ORACLE)
def event_value_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the MEDIAN of all pairwise
    slopes between daily mean values → (event_type, n_pairs,
    slope_per_day). Robust to outlier days where the OLS fit
    (`event_value_hourly_trend`) is not — the trend estimator a metrics
    pipeline wants when a single bad backfill day would swing the
    least-squares line. Scale: the pairwise self-join runs on the DAILY
    PRE-AGGREGATE (|types| × |days| rows), so pair volume is bounded by
    days² per type — independent of fact-row count; the raw scan is one
    map-side-combinable groupBy."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.avg("value").alias("mv"))
    a = d.select("event_type", F.col("day").alias("da"), F.col("mv").alias("ma"))
    b = d.select("event_type", F.col("day").alias("db"), F.col("mv").alias("mb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            (
                (F.col("mb") - F.col("ma"))
                / F.datediff(F.col("db"), F.col("da"))
            ).alias("s"),
        )
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.percentile("s", F.lit(0.5)), 4).alias("slope_per_day"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# nation trade balance: customer-side vs supplier-side revenue
# --------------------------------------------------------------------------

_TRADE_ORACLE = """
    with cust as (
        select c_nationkey as nk, sum(o_totalprice) as cr
        from orders join customer on o_custkey = c_custkey
        group by 1
    ), supp as (
        select s_nationkey as nk, sum(l_extendedprice * (1 - l_discount)) as sr
        from lineitem join supplier on l_suppkey = s_suppkey
        group by 1
    )
    select n_name,
           round(coalesce(cr, 0), 2) as cust_revenue,
           round(coalesce(sr, 0), 2) as supp_revenue,
           round(coalesce(cr, 0) - coalesce(sr, 0), 2) as balance
    from nation
    left join cust on nk = n_nationkey
    left join supp on supp.nk = n_nationkey
    order by n_name
"""


@register("nation_trade_balance", _TRADE_ORACLE)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided rollup on independent join paths: per nation, revenue
    its customers SPEND (orders ⋈ customer) vs revenue its suppliers
    EARN (lineitem ⋈ supplier), and the balance — the
    import/export-style report that exercises two fact scans with
    different dimension joins converging on one spine. Both dimension
    joins broadcast; each fact is scanned once and pre-aggregated to
    nation cardinality before the 25-row spine joins, so the final
    joins are trivial regardless of fact size."""
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum("o_totalprice").alias("cr"))
    )
    supp = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "supplier").select(
                    "s_suppkey", "s_nationkey"
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sr"))
    )
    return (
        nation.join(cust, nation["n_nationkey"] == cust["nk"], "left")
        .join(supp, nation["n_nationkey"] == supp["snk"], "left")
        .select(
            "n_name",
            F.round(F.coalesce("cr", F.lit(0.0)), 2).alias("cust_revenue"),
            F.round(F.coalesce("sr", F.lit(0.0)), 2).alias("supp_revenue"),
            F.round(
                F.coalesce("cr", F.lit(0.0)) - F.coalesce("sr", F.lit(0.0)), 2
            ).alias("balance"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# backfill gap audit: missing days per order priority
# --------------------------------------------------------------------------

_GAP_ORACLE = """
    with d as (
        select distinct o_orderpriority as pr,
               date_trunc('day', o_orderdate)::date as day
        from orders
    ), g as (
        select pr, day,
               date_diff('day',
                         lag(day) over (partition by pr order by day),
                         day) as gap
        from d
    )
    select pr as priority,
           strftime(min(day), '%Y-%m-%d') as first_day,
           strftime(max(day), '%Y-%m-%d') as last_day,
           cast(date_diff('day', min(day), max(day)) + 1 as bigint)
               as n_expected,
           cast(count(*) as bigint) as n_present,
           cast(date_diff('day', min(day), max(day)) + 1 - count(*) as bigint)
               as n_missing,
           cast(coalesce(max(gap) - 1, 0) as bigint) as max_gap_days
    from g group by pr
    order by pr
"""


@register("orders_backfill_gap_audit", _GAP_ORACLE)
def orders_backfill_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-continuity audit per order priority → (priority, first_day,
    last_day, n_expected, n_present, n_missing, max_gap_days): the
    data-quality check a partitioned-ingest pipeline runs to catch
    failed backfill days before a consumer trains on a hole. No date
    spine materializes — n_missing is span-minus-present arithmetic and
    the longest hole is max(lag-gap) − 1 over the DISTINCT-day frame
    (|priorities| × |days| rows), so cost is one distinct aggregate +
    one tiny window regardless of fact size."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        F.to_date("o_orderdate").alias("day"),
    ).distinct()
    w = Window.partitionBy("pr").orderBy("day")
    g = o.withColumn("gap", F.datediff("day", F.lag("day").over(w)))
    span = F.datediff(F.max("day"), F.min("day")) + 1
    return (
        g.groupBy("pr")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
            span.cast("bigint").alias("n_expected"),
            F.count(F.lit(1)).cast("bigint").alias("n_present"),
            (span - F.count(F.lit(1))).cast("bigint").alias("n_missing"),
            F.coalesce(F.max("gap") - 1, F.lit(0))
            .cast("bigint")
            .alias("max_gap_days"),
        )
        .withColumnRenamed("pr", "priority")
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# Spearman rank correlation (tie-averaged ranks)
# --------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
    with r as (
        select event_type,
               rank() over (partition by event_type order by extract(hour from ts))
                 + (count(*) over (partition by event_type, extract(hour from ts))
                    - 1) / 2.0 as rx,
               rank() over (partition by event_type order by value)
                 + (count(*) over (partition by event_type, value) - 1) / 2.0
                   as ry
        from events
    )
    select event_type, cast(count(*) as bigint) as n,
           round((count(*) * sum(rx * ry) - sum(rx) * sum(ry))
                 / sqrt((count(*) * sum(rx * rx) - sum(rx) * sum(rx))
                        * (count(*) * sum(ry * ry) - sum(ry) * sum(ry))), 4)
               as spearman
    from r group by event_type
    order by event_type
"""


@register("event_value_spearman", _SPEARMAN_ORACLE)
def event_value_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and hour-of-day per
    type → (event_type, n, spearman): the monotone-association measure
    that survives the heavy value outliers Pearson (the crosscorr
    family) is dragged by. Ties get AVERAGE ranks — min-rank + (tie
    count − 1)/2, the textbook treatment both engines restate with
    identical rank/count windows — then Pearson's product-moment
    formula runs on the ranks as five partial-aggregable sums. Cost:
    two windows over the per-type frame + one aggregate; at warehouse
    scale the windows are the sort, everything else is scan-speed."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    wx = Window.partitionBy("event_type").orderBy("hr")
    wxt = Window.partitionBy("event_type", "hr")
    wy = Window.partitionBy("event_type").orderBy("value")
    wyt = Window.partitionBy("event_type", "value")
    r = ev.select(
        "event_type",
        (F.rank().over(wx) + (F.count(F.lit(1)).over(wxt) - 1) / 2.0).alias("rx"),
        (F.rank().over(wy) + (F.count(F.lit(1)).over(wyt) - 1) / 2.0).alias("ry"),
    )
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("rx") * F.col("ry")) - F.sum("rx") * F.sum("ry")
    den = F.sqrt(
        (n * F.sum(F.col("rx") * F.col("rx")) - F.sum("rx") * F.sum("rx"))
        * (n * F.sum(F.col("ry") * F.col("ry")) - F.sum("ry") * F.sum("ry"))
    )
    return (
        r.groupBy("event_type")
        .agg(
            n.cast("bigint").alias("n"),
            F.round(num / den, 4).alias("spearman"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# sessionized bounce rate by entry event type
# --------------------------------------------------------------------------

_BOUNCE_ORACLE = """
    with e as (
        select user_id, ts, event_id, event_type,
               case when ts - lag(ts) over (partition by user_id order by ts,
                                            event_id)
                         > interval 30 minutes
                    then 1 else 0 end as brk
        from events
    ), s as (
        select user_id, ts, event_id, event_type,
               sum(brk) over (partition by user_id order by ts, event_id
                              rows between unbounded preceding
                                       and current row) as sid
        from e
    ), sess as (
        select user_id, sid, count(*) as n_events,
               min(struct_pack(ts := ts, event_id := event_id,
                               event_type := event_type)).event_type
                   as entry_type
        from s group by user_id, sid
    )
    select entry_type, cast(count(*) as bigint) as n_sessions,
           cast(sum(case when n_events = 1 then 1 else 0 end) as bigint)
               as n_bounced,
           round(sum(case when n_events = 1 then 1 else 0 end)
                 / count(*)::double, 4) as bounce_rate
    from sess group by entry_type
    order by entry_type
"""


@register("event_session_bounce", _BOUNCE_ORACLE)
def event_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session ENTRY event type → (entry_type,
    n_sessions, n_bounced, bounce_rate): sessions (30-minute inactivity
    gap, lag+cumulative-sum formulation — the batch restatement of the
    native `session_window` face `user_sessions` exercises) that ended
    after their first event, grouped by what that first event was — the
    landing-page-quality question. The entry event is the deterministic
    (ts, event_id)-argmin struct; both engines break the gap strictly
    (> 30 min) so the formulations agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(wu)
            > 1800,
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    s = ev.select("user_id", "ts", "event_id", "event_type", brk).withColumn(
        "sid",
        F.sum("brk").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
            )
        )["event_type"].alias("entry_type"),
    )
    bounced = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            bounced.cast("bigint").alias("n_bounced"),
            F.round(bounced / F.count(F.lit(1)), 4).alias("bounce_rate"),
        )
        .orderBy("entry_type")
    )


# --------------------------------------------------------------------------
# IVF index diagnostics: cell-balance audit
# --------------------------------------------------------------------------

_CELL_BALANCE_ORACLE = """
    with cents as (
        select vec_id as cent_id, embedding::DOUBLE[] as cv
        from embeddings where vec_id < 16
    ), c as (
        select vec_id, embedding::DOUBLE[] as v from embeddings
    ), assign as (
        select vec_id, cell from (
            select c.vec_id, cents.cent_id as cell,
                   row_number() over (
                       partition by c.vec_id
                       order by round(list_cosine_similarity(c.v, cents.cv), 6)
                                desc, cents.cent_id
                   ) as rn
            from c cross join cents
        ) t where rn = 1
    ), occ as (
        select cell, count(*)::bigint as n_vectors from assign group by cell
    ), tot as (
        select sum(n_vectors)::double as n, count(*)::double as k from occ
    )
    select cell, n_vectors,
           round(n_vectors / tot.n, 6) as share,
           round(n_vectors * tot.k / tot.n, 4) as balance_factor
    from occ cross join tot
    order by cell
"""


@register("embedding_ivf_cell_balance", _CELL_BALANCE_ORACLE)
def embedding_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health audit → per coarse cell (cell, n_vectors, share,
    balance_factor): occupancy under the same 16-centroid first-N
    quantizer `embedding_topk_ivf` serves from. balance_factor is
    occupancy relative to perfect balance (n·k⁻¹ per cell = 1.0) — the
    number an ANN operator watches, because a hot cell (factor ≫ 1)
    inflates every probe that routes to it and an empty cell wastes
    nprobe budget. Cell assignment is a literal-array argmax in one
    shuffle-free scan; the audit aggregate is k rows."""
    from flight_radar_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.collect_centroids(emb, 16)
    # arrow fast path (one numpy matmul per batch) instead of the
    # 16×64-literal expression argmax — same cells, asserted in tests
    assigned = emb.select(
        S._arrow_cell_udf(cents, 6)(F.col("embedding")).alias("cell")
    )
    occ = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    tot = occ.agg(
        F.sum("n_vectors").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("n"), 6).alias("share"),
            F.round(F.col("n_vectors") * F.col("k") / F.col("n"), 4).alias(
                "balance_factor"
            ),
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------------
# SCD Type 3: previous-value column (completes the SCD1/SCD2 family)
# --------------------------------------------------------------------------

_SCD3_ORACLE = """
    with cur as (
        select o_orderkey, o_orderstatus, null::varchar as prev_status
        from orders
    ), upd as (
        select o_orderkey,
               case o_orderstatus when 'O' then 'F' when 'F' then 'O'
                    else 'O' end as o_orderstatus
        from orders where o_orderkey % 10 = 0
    ), fresh as (
        select u.o_orderkey, u.o_orderstatus,
               case when c.o_orderstatus is null then null
                    when c.o_orderstatus <> u.o_orderstatus
                         then c.o_orderstatus
                    else c.prev_status end as prev_status
        from upd u left join cur c using (o_orderkey)
    )
    select * from fresh
    union all
    select * from cur c
    where not exists (select 1 from upd u where u.o_orderkey = c.o_orderkey)
    order by o_orderkey
"""


@register("orders_scd3_merge", _SCD3_ORACLE)
def orders_scd3_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 apply (pipeline.scd3_apply): a 10% update batch with
    flipped order status merged into the current table, the old status
    surviving in ``prev_status`` — the limited-history middle ground
    between SCD1 (`orders_scd1_merge`, overwrite) and SCD2
    (`orders_scd2_history`, full intervals), completing the family.
    Changed values push into prev, unchanged carry it, new keys start
    NULL. One key-shuffle join + one anti-join; the oracle restates it
    as updates-with-case ∪ untouched."""
    from flight_radar_pipeline_spark.pipeline.silver import scd3_apply

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    current = orders.withColumn("prev_status", F.lit(None).cast("string"))
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "O", "F")
        .when(F.col("o_orderstatus") == "F", "O")
        .otherwise("O"),
    )
    return scd3_apply(
        current, updates, ["o_orderkey"], "o_orderstatus", "prev_status"
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Matryoshka truncation audit: does half the embedding keep the neighbors?
# --------------------------------------------------------------------------

_MATRYOSHKA_ORACLE = """
    with q as (
        select vec_id as query_id, embedding::DOUBLE[] as qv
        from embeddings where vec_id < 10
    ), c as (
        select vec_id as neighbor_id, embedding::DOUBLE[] as nv
        from embeddings
    ), full_top as (
        select query_id, neighbor_id from (
            select q.query_id, c.neighbor_id,
                   row_number() over (
                       partition by q.query_id
                       order by round(list_cosine_similarity(q.qv, c.nv), 6)
                                desc, c.neighbor_id
                   ) as rn
            from q cross join c where q.query_id != c.neighbor_id
        ) where rn <= 5
    ), trunc_top as (
        select query_id, neighbor_id from (
            select q.query_id, c.neighbor_id,
                   row_number() over (
                       partition by q.query_id
                       order by round(list_cosine_similarity(
                                    q.qv[1:32], c.nv[1:32]), 6)
                                desc, c.neighbor_id
                   ) as rn
            from q cross join c where q.query_id != c.neighbor_id
        ) where rn <= 5
    )
    select f.query_id,
           cast(count(t.neighbor_id) as bigint) as n_overlap,
           round(count(t.neighbor_id) / (10.0 - count(t.neighbor_id)), 4)
               as jaccard
    from full_top f
    left join trunc_top t using (query_id, neighbor_id)
    group by f.query_id
    order by f.query_id
"""


@register("embedding_matryoshka_audit", _MATRYOSHKA_ORACLE)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit → per query (query_id, n_overlap,
    jaccard): overlap@5 between the exact cosine top-5 on the FULL
    64-dim embedding and on its FIRST 32 dims — the measurement that
    decides whether an MRL-style index can serve from truncated vectors
    (half the memory and FLOPs per probe) without retraining. Both
    rankings are deterministic (rounded cosine desc, id asc); overlap
    counts via one equi-join of the two top-k frames. At 100 TB this
    audit runs on a query SAMPLE against the serving index, exactly as
    here (10 probe queries, brute-force baseline — the same baseline
    contract as `embedding_topk_bruteforce`)."""
    from flight_radar_pipeline_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    def topk(vec_slice: bool) -> DataFrame:
        vd = F.col("embedding").cast("array<double>")
        v = F.slice(vd, 1, 32) if vec_slice else vd
        c = emb.select(F.col("vec_id").alias("neighbor_id"), v.alias("__nv"))
        q = queries.select(F.col("vec_id").alias("query_id"), v.alias("__qv"))
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    S.cosine_similarity(F.col("__qv"), F.col("__nv")), 6
                ).alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 5)
            .select("query_id", "neighbor_id")
        )

    full_top = topk(False)
    trunc_top = topk(True).withColumn("__hit", F.lit(1))
    hits = F.count("__hit")
    return (
        full_top.join(trunc_top, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            hits.cast("bigint").alias("n_overlap"),
            F.round(hits / (10.0 - hits), 4).alias("jaccard"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# l-diversity privacy audit (completes k-anonymity / DP-release family)
# --------------------------------------------------------------------------

_LDIV_ORACLE = """
    with g as (
        select c_nationkey as nation, cast(floor(c_acctbal / 1000) as bigint)
                   as bal_band,
               c_mktsegment as seg, count(*) as cnt
        from customer group by 1, 2, 3
    )
    select nation, bal_band,
           cast(sum(cnt) as bigint) as n_customers,
           cast(count(*) as bigint) as l_distinct,
           round(max(cnt) / sum(cnt)::double, 4) as dominant_share
    from g group by nation, bal_band
    order by nation, bal_band
"""


@register("customer_l_diversity", _LDIV_ORACLE)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over quasi-identifier groups → (nation,
    bal_band, n_customers, l_distinct, dominant_share): within each
    (nation, account-balance band) group, how many DISTINCT sensitive
    values (market segment) appear and how dominant the top one is —
    the release-safety check k-anonymity (`customer_k_anonymity`)
    misses: a group can be large yet carry one sensitive value
    (l = 1 ⇒ membership reveals the attribute; dominant_share near 1 ⇒
    high-confidence inference). Two map-side-combinable aggregates,
    state bounded by |groups| × |segments|."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        F.col("c_mktsegment").alias("seg"),
    )
    g = c.groupBy("nation", "bal_band", "seg").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        g.groupBy("nation", "bal_band")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_customers"),
            F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
            F.round(F.max("cnt") / F.sum("cnt"), 4).alias("dominant_share"),
        )
        .orderBy("nation", "bal_band")
    )


# --------------------------------------------------------------------------
# corpus Zipf fit: log-log OLS over the token frequency ranking
# --------------------------------------------------------------------------

_ZIPF_V = 200

_ZIPF_ORACLE = f"""
    with tok as (
        select unnest(string_split_regex(lower(text), '\\W+')) as t
        from documents
    ), freq as (
        select t, count(*)::double as f from tok where t <> '' group by t
    ), ranked as (
        select ln(row_number() over (order by f desc, t)) as x, ln(f) as y
        from freq
        order by f desc, t limit {_ZIPF_V}
    ), s as (
        select count(*)::double as n, sum(x) as sx, sum(y) as sy,
               sum(x * x) as sxx, sum(y * y) as syy, sum(x * y) as sxy
        from ranked
    )
    select cast(n as bigint) as n_tokens,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) as slope,
           round((sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n,
                 4) as intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) as r2
    from s
"""


@register("corpus_zipf_fit", _ZIPF_ORACLE)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token ranking → (n_tokens, slope,
    intercept, r2): OLS of ln(frequency) on ln(rank) over the top
    {v} tokens — the corpus-health diagnostic (natural language sits
    near slope −1; synthetic/boilerplate-heavy corpora deviate, and a
    drifting slope between crawls flags a pipeline change upstream).
    The degree-distribution sibling of `user_degree_powerlaw` applied
    to text. Cost: one tokenize+count aggregate; the ranked frame is
    top-{v} rows and the fit is closed-form sums on it."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower("text"), r"\W+")).alias("t")
    ).filter(F.col("t") != "")
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("f"))
    w = Window.orderBy(F.desc("f"), F.asc("t"))
    ranked = (
        freq.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _ZIPF_V)
        .select(
            F.log(F.col("__rn")).alias("x"), F.log("f").alias("y")
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    sxy = F.sum(F.col("x") * F.col("y"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return ranked.agg(
        n.cast("bigint").alias("n_tokens"),
        F.round(slope, 4).alias("slope"),
        F.round((sy - sx * slope) / n, 4).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    )


corpus_zipf_fit.__doc__ = corpus_zipf_fit.__doc__.format(v=_ZIPF_V)


# --------------------------------------------------------------------------
# burstiness: Fano factor of hourly arrival counts
# --------------------------------------------------------------------------

_FANO_ORACLE = """
    with h as (
        select event_type, date_trunc('hour', ts) as hr,
               count(*)::double as c
        from events group by 1, 2
    )
    select event_type, cast(count(*) as bigint) as n_hours,
           round(avg(c), 4) as mean_per_hour,
           round(var_samp(c) / avg(c), 4) as fano
    from h group by event_type
    order by event_type
"""


@register("event_type_burstiness", _FANO_ORACLE)
def event_type_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type → (event_type, n_hours,
    mean_per_hour, fano): the Fano factor (variance-to-mean ratio) of
    hourly arrival counts — 1.0 for a Poisson process, ≫ 1 for bursty
    traffic (the dispersion statistic capacity planning and
    anomaly-threshold sizing need; a mean-based alert on a fano-20
    stream pages constantly). Counting is one map-side-combinable
    groupBy to |types| × |hours| rows; the dispersion aggregate runs on
    that pre-aggregate — scan-speed at any event volume. The
    rate-structure complement of the value-space moment entries
    (`event_value_stats_merged`)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    return (
        h.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.round(F.avg("c"), 4).alias("mean_per_hour"),
            F.round(F.var_samp("c") / F.avg("c"), 4).alias("fano"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# streaming SCD3 twin (foreachBatch versioned merge, ≡ batch final state)
# --------------------------------------------------------------------------


@register("orders_scd3_stream_merge", _SCD3_ORACLE)
def orders_scd3_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD3 sink — the stream twin of `orders_scd3_merge`,
    completing the lake family's batch/stream symmetry (SCD1, SCD2,
    CDC, and rollup already have proven-equal twins): updates arrive as
    a file-source stream and ``foreachBatch`` applies
    ``pipeline.scd3_apply`` into a versioned parquet target (read
    latest version → previous-value merge → write next version). The
    final table equals the batch apply, which is what the shared oracle
    states. Per-batch work is one key-shuffle join + anti-join against
    the current version; versioned directories keep the
    read-your-own-writes loop safe and checkpoint-replayed batches
    idempotent."""
    import os

    from flight_radar_pipeline_spark.pipeline.silver import scd3_apply

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    work = scratch_dir("scd3_stream_")
    versions = [os.path.join(work, "v0")]
    orders.withColumn("prev_status", F.lit(None).cast("string")).write.mode(
        "overwrite"
    ).parquet(versions[0])

    upd_stream = (
        link_stream(spark, work, f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderstatus") == "O", "F")
            .when(F.col("o_orderstatus") == "F", "O")
            .otherwise("O")
            .alias("o_orderstatus"),
        )
    )

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(versions[-1])
        nxt = os.path.join(work, f"v{len(versions)}")
        scd3_apply(
            cur, batch, ["o_orderkey"], "o_orderstatus", "prev_status"
        ).write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    run_microbatches(upd_stream, merge_batch, work)

    return spark.read.parquet(versions[-1]).orderBy("o_orderkey")
