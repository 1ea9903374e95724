"""Round-7 battery additions: spatial grid proximity + nearest
neighbor, bounded graph traversal, Adamic–Adar link prediction,
interval–interval overlap, asymmetric n-gram containment, CDC apply
with tombstones, SCD2 point-in-time enrichment, time-decayed scoring,
Holt double-exponential smoothing, weighted medians, unpivot/melt, and
character-class entropy.

Each entry pairs the Spark plan with a DuckDB oracle that restates the
semantics independently — for the bucketed operators (geo cells,
interval banding) the oracle is deliberately the NAIVE quadratic join,
so the hash match proves the bucketing optimization loses nothing.

Registered into the shared REGISTRY on import (see __spark_entry__).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flight_radar_pipeline_spark.operators.graph import bounded_min_cost, n_hop_reach
from flight_radar_pipeline_spark.operators.spatial import geo_cell_pairs
from flight_radar_pipeline_spark.operators.temporal import interval_overlap_pairs
from flight_radar_pipeline_spark.operators.prefix import ranged_cumulative
from flight_radar_pipeline_spark.plans.battery import register
from flight_radar_pipeline_spark.sources.readers import load_table
from flight_radar_pipeline_spark.streaming.ledger import (
    run_microbatches,
    scratch_dir,
    wave_stream,
)

# --------------------------------------------------------------------------
# grid-cell proximity self-join (bucketed vs naive-oracle)
# --------------------------------------------------------------------------

# synthetic coordinates md5-derived from keys (the battery's standard
# partition-invariant randomness device — a multiplicative lattice like
# customer_haversine's would correlate lat with lon and starve the join
# of close pairs): lat in [-45, 45), lon in [-30, 30) — bounded latitude
# so the 2-degree grid keeps the adjacency guarantee
# (2 * 111.195 * cos(45) = 157 km narrowest cell edge >= 120 km radius)
_GEO_LAT = (
    "(('0x' || substr(md5('lat-' || c_custkey), 1, 12))::bigint % 900)"
    " / 10.0 - 45.0"
)
_GEO_LON = (
    "(('0x' || substr(md5('lon-' || c_custkey), 1, 12))::bigint % 600)"
    " / 10.0 - 30.0"
)
_GEO_RADIUS_KM = 120.0


def _geo_coord(col: str, salt: str, mod: int, half: float):
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "-"), F.col(col).cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    return (h % mod) / F.lit(10.0) - F.lit(half)


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return f"""2 * 6371 * asin(sqrt(
        pow(sin((radians({lat2}) - radians({lat1})) / 2), 2)
        + cos(radians({lat1})) * cos(radians({lat2}))
        * pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)))"""


_GEO_ORACLE = f"""
    with p as (
        select c_custkey as id, {_GEO_LAT} as lat, {_GEO_LON} as lon
        from customer
    )
    select a.id as id_a, b.id as id_b,
           round({_hav_sql("a.lat", "a.lon", "b.lat", "b.lon")}, 2) as distance_km
    from p a join p b on a.id < b.id
    where {_hav_sql("a.lat", "a.lon", "b.lat", "b.lon")} <= {_GEO_RADIUS_KM}
    order by id_a, id_b
"""


@register("customer_geo_cell_pairs", _GEO_ORACLE)
def customer_geo_cell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity self-join — every customer pair within 120 km of
    synthetic key-derived coordinates — via ``operators.spatial.
    geo_cell_pairs`` 2° grid bucketing: one ×9 probe-side explode, one
    equi-join on the cell, haversine verify on candidates only. The
    oracle is the NAIVE all-pairs join, so the hash match is a recall
    proof for the grid (no pair within the radius escapes the 3×3
    neighborhood at |lat| <= 45). 100 TB: candidate volume tracks local
    density, never n²."""
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        _geo_coord("c_custkey", "lat", 900, 45.0).alias("lat"),
        _geo_coord("c_custkey", "lon", 600, 30.0).alias("lon"),
    )
    pairs = geo_cell_pairs(
        pts, "id", "lat", "lon",
        radius_km=_GEO_RADIUS_KM, cell_deg=2.0, max_abs_lat=45.0,
    )
    return pairs.select(
        "id_a", "id_b", F.round("distance_km", 2).alias("distance_km")
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# bounded BFS reach over the customer–supplier transaction graph
# --------------------------------------------------------------------------

_REACH_HOPS = 3
_REACH_SEEDS = 25

_REACH_ORACLE = f"""
    with pair as (
        select distinct 'c' || o_custkey as a, 's' || l_suppkey as b
        from lineitem join orders on l_orderkey = o_orderkey
    ), edges as (
        select a as src, b as dst from pair
        union all
        select b as src, a as dst from pair
    ), h0 as (
        select distinct 'c' || c_custkey as node from customer
        where c_custkey <= {_REACH_SEEDS}
    ), h1 as (
        select distinct e.dst as node
        from edges e join h0 on e.src = h0.node
        where not exists (select 1 from h0 v where v.node = e.dst)
    ), h2 as (
        select distinct e.dst as node
        from edges e join h1 on e.src = h1.node
        where not exists (select 1 from h0 v where v.node = e.dst)
          and not exists (select 1 from h1 v where v.node = e.dst)
    ), h3 as (
        select distinct e.dst as node
        from edges e join h2 on e.src = h2.node
        where not exists (select 1 from h0 v where v.node = e.dst)
          and not exists (select 1 from h1 v where v.node = e.dst)
          and not exists (select 1 from h2 v where v.node = e.dst)
    )
    select node, 0 as hop from h0
    union all select node, 1 from h1
    union all select node, 2 from h2
    union all select node, 3 from h3
    order by hop, node
"""


@register("entity_reach_3hop", _REACH_ORACLE)
def entity_reach_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast radius of the top-{seeds} customers on the symmetrized
    customer–supplier graph: every entity within 3 hops, labeled with
    its minimum hop (``operators.graph.n_hop_reach`` — per-round cost
    tracks the frontier, edges partitioned on src once). Completes the
    graph family (components, PageRank, triangles) with bounded
    traversal; the oracle unrolls the same BFS as anti-joined CTE
    layers."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = pair.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pair.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _REACH_SEEDS)
        .select(F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"))
    )
    return n_hop_reach(edges, seeds, _REACH_HOPS).orderBy("hop", "node")


# --------------------------------------------------------------------------
# exponentially time-decayed popularity scores
# --------------------------------------------------------------------------

_DECAY_HALF_LIFE_H = 24.0

_DECAY_ORACLE = f"""
    with mx as (
        select floor(epoch(max(ts)))::bigint as t from events
    )
    select event_type,
           count(*) as n,
           round(sum(exp(-ln(2) * ((mx.t - floor(epoch(ts))::bigint) / 3600.0)
                          / {_DECAY_HALF_LIFE_H})), 4) as decayed_count,
           round(sum(value * exp(-ln(2) * ((mx.t - floor(epoch(ts))::bigint) / 3600.0)
                          / {_DECAY_HALF_LIFE_H})), 4) as decayed_value
    from events cross join mx
    group by event_type
    order by event_type
"""


@register("event_decayed_type_scores", _DECAY_ORACLE)
def event_decayed_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted popularity: per event type, counts and value
    sums decayed exponentially with a 24 h half-life from the corpus
    max timestamp — the trending-now score that a ranked feed or cache
    admission policy reads. The anchor is a 1-row aggregate
    broadcast-crossed back in (no driver collect); the decay itself is
    a pure column expression folded into one hash aggregate, so the op
    costs exactly one scan + one shuffle at any scale."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.unix_timestamp(F.max("ts")).alias("__t"))
    age_h = (F.col("__t") - F.unix_timestamp("ts")) / F.lit(3600.0)
    w = F.exp(-F.log(F.lit(2.0)) * age_h / F.lit(_DECAY_HALF_LIFE_H))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(w), 4).alias("decayed_count"),
            F.round(F.sum(F.col("value") * w), 4).alias("decayed_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# per-document character-class entropy (quality signal)
# --------------------------------------------------------------------------

_ENTROPY_CLASSES = [
    ("n_lower", "[^a-z]"),
    ("n_upper", "[^A-Z]"),
    ("n_digit", "[^0-9]"),
    ("n_space", "[^ ]"),
]

_ENT_TERMS_SQL = " + ".join(
    f"case when {c} > 0 then -({c} / n::double) * log2({c} / n::double) else 0 end"
    for c in [name for name, _ in _ENTROPY_CLASSES] + ["n_other"]
)

_ENTROPY_ORACLE = f"""
    with c as (
        select doc_id, length(text) as n,
               {", ".join(
                   f"length(regexp_replace(text, '{pat}', '', 'g')) as {name}"
                   for name, pat in _ENTROPY_CLASSES
               )}
        from documents
    ), t as (
        select doc_id, n, n_lower, n_upper, n_digit, n_space,
               n - n_lower - n_upper - n_digit - n_space as n_other
        from c where n > 0
    )
    select doc_id, n, n_lower, n_upper, n_digit, n_space, n_other,
           round({_ENT_TERMS_SQL}, 4) as class_entropy
    from t
    order by doc_id
"""


@register("doc_char_class_entropy", _ENTROPY_ORACLE)
def doc_char_class_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy over five character classes (lower/upper/digit/
    space/other) per document — the cheap gibberish-vs-prose signal a
    corpus quality gate thresholds on (all-one-class ⇒ 0 bits;
    machine-generated id dumps score far from prose's profile). Counts
    come from sequential regexp_replace+length expressions — one scan,
    shuffle-free, whole-stage-codegen territory; entropy is a closed
    column expression over the five counts, zero-count classes
    contributing exactly 0 by the same guarded term on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        F.length("text").alias("n"),
        *[
            F.length(F.regexp_replace("text", pat, "")).alias(name)
            for name, pat in _ENTROPY_CLASSES
        ],
    ).filter(F.col("n") > 0)
    counts = counts.withColumn(
        "n_other",
        F.col("n") - F.col("n_lower") - F.col("n_upper")
        - F.col("n_digit") - F.col("n_space"),
    )

    def term(c: str):
        p = F.col(c) / F.col("n").cast("double")
        return F.when(F.col(c) > 0, -p * F.log2(p)).otherwise(F.lit(0.0))

    ent = sum(
        (term(name) for name, _ in _ENTROPY_CLASSES[1:]),
        term(_ENTROPY_CLASSES[0][0]),
    ) + term("n_other")
    return counts.select(
        "doc_id", "n", "n_lower", "n_upper", "n_digit", "n_space", "n_other",
        F.round(ent, 4).alias("class_entropy"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# weighted median (cumulative-weight crossing, no sort-collect)
# --------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
    with g as (
        select l_returnflag as returnflag, l_extendedprice as price,
               sum(l_quantity) as w
        from lineitem
        group by 1, 2
    ), c as (
        select returnflag, price, w,
               sum(w) over (partition by returnflag order by price
                            rows between unbounded preceding and current row) as cw,
               sum(w) over (partition by returnflag) as tot
        from g
    )
    select returnflag,
           round(min(price), 2) as weighted_median_price,
           round(min(tot), 2) as total_weight
    from c
    where cw >= tot / 2
    group by returnflag
    order by returnflag
"""


@register("lineitem_weighted_median", _WMEDIAN_ORACLE)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag — the
    lower weighted median: the smallest price whose cumulative weight
    reaches half the group total. Pre-aggregating to DISTINCT prices
    first makes the running sum deterministic (no within-tie order
    dependence) and shrinks the window input from row count to distinct
    price count; one groupBy shuffle + one partitioned window, never a
    sort-collect of raw rows. The exact-median complement to the
    approx-percentile twins."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_extendedprice").alias("price"),
        )
        .agg(F.sum("l_quantity").alias("w"))
    )
    wc = (
        Window.partitionBy("returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("returnflag")
    c = g.select(
        "returnflag",
        "price",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tot"),
    )
    return (
        c.filter(F.col("cw") >= F.col("tot") / 2)
        .groupBy("returnflag")
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median_price"),
            F.round(F.min("tot"), 2).alias("total_weight"),
        )
        .orderBy("returnflag")
    )


# --------------------------------------------------------------------------
# interval–interval overlap self-join (banded vs naive-oracle)
# --------------------------------------------------------------------------

_SESS_GAP_MIN = 30
_SESS_PAD_MIN = 5
_SESS_USER_MOD = "user_id % 5 < 2"  # deterministic user sample on both engines

_OVERLAP_ORACLE = f"""
    with e as (
        select user_id, ts,
               case when ts - lag(ts) over (partition by user_id
                                            order by ts, event_id)
                         > interval {_SESS_GAP_MIN} minute
                         or lag(ts) over (partition by user_id
                                          order by ts, event_id) is null
                    then 1 else 0 end as brk
        from events where {_SESS_USER_MOD}
    ), s as (
        select user_id, ts,
               sum(brk) over (partition by user_id order by ts
                              rows between unbounded preceding and current row) as seq
        from e
    ), iv as (
        select (user_id * 100000 + seq)::bigint as interval_id,
               min(ts) as start_ts,
               max(ts) + interval {_SESS_PAD_MIN} minute as end_ts
        from s group by user_id, seq
    )
    select a.interval_id as id_a, b.interval_id as id_b,
           strftime(greatest(a.start_ts, b.start_ts), '%Y-%m-%d %H:%M:%S') as overlap_start,
           strftime(least(a.end_ts, b.end_ts), '%Y-%m-%d %H:%M:%S') as overlap_end
    from iv a join iv b
      on a.interval_id < b.interval_id
     and a.start_ts < b.end_ts and b.start_ts < a.end_ts
    order by id_a, id_b
"""


@register("session_overlap_pairs", _OVERLAP_ORACLE)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session detection: every pair of (gap-sessionized,
    5-min-padded) sessions whose time ranges overlap, computed by
    ``operators.temporal.interval_overlap_pairs`` hour-bucket banding —
    both sides explode to covered buckets, equi-join on the bucket, and
    the pair counts ONCE at the bucket holding the overlap start (no
    post-join distinct). The oracle is the NAIVE quadratic overlap
    join, so the hash match proves the banding exact. Candidate volume
    is bounded by peak concurrency per bucket, not table size — the
    interval-join posture that survives 100 TB of telemetry."""
    ev = load_table(spark, sf_dir, "events").filter(F.expr(_SESS_USER_MOD))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
            > _SESS_GAP_MIN * 60,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
    )
    seq_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = ev.select("user_id", "ts", "event_id", brk.alias("brk")).select(
        "user_id", "ts", F.sum("brk").over(seq_w).alias("seq")
    )
    iv = s.groupBy("user_id", "seq").agg(
        (F.col("user_id") * 100000 + F.col("seq")).alias("interval_id"),
        F.min("ts").alias("start_ts"),
        (F.max("ts") + F.expr(f"interval {_SESS_PAD_MIN} minutes")).alias("end_ts"),
    )
    pairs = interval_overlap_pairs(
        iv.select("interval_id", "start_ts", "end_ts"),
        id_col="interval_id",
        bucket_seconds=3600,
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.date_format("overlap_start", "yyyy-MM-dd HH:mm:ss").alias("overlap_start"),
        F.date_format("overlap_end", "yyyy-MM-dd HH:mm:ss").alias("overlap_end"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# unpivot / melt (round-trips the pivot)
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_UNPIVOT_ORACLE = f"""
    select user_id, event_type, count(*) as n_events
    from events
    where event_type in ({", ".join(f"'{t}'" for t in _EVENT_TYPES)})
    group by user_id, event_type
    order by user_id, event_type
"""


@register("user_event_type_unpivot", _UNPIVOT_ORACLE)
def user_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via the native ``DataFrame.unpivot`` (Expand
    node, one pass, no per-column union): pivot user×type counts to a
    wide frame, then unpivot back to (user_id, event_type, n_events)
    and drop the pivot-introduced empty cells. The oracle is the direct
    long-form aggregate — the hash match is the algebraic round-trip
    proof melt(pivot(x)) = x. Expand multiplies rows by the value-column
    count BEFORE the exchange, so wide tables should prune value columns
    first at scale."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    )
    long = wide.unpivot(
        ids=["user_id"],
        values=_EVENT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n_events",
    )
    return (
        long.filter(F.col("n_events").isNotNull() & (F.col("n_events") > 0))
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend), bounded history
# --------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_CAP = 40  # first N observations per user: bounds per-key state

_HOLT_ORACLE = f"""
    with recursive o as (
        select user_id, value,
               row_number() over (partition by user_id
                                  order by ts, event_id) as rn
        from events
    ), x as (
        select * from o where rn <= {_HOLT_CAP}
    ), init as (
        select x1.user_id, x2.value as l, x2.value - x1.value as b
        from x x1 join x x2
          on x1.user_id = x2.user_id and x1.rn = 1 and x2.rn = 2
    ), h as (
        select user_id, 2 as t, l, b from init
        union all
        select h.user_id, h.t + 1,
               {_HOLT_ALPHA} * x.value + (1 - {_HOLT_ALPHA}) * (h.l + h.b),
               {_HOLT_BETA} * (({_HOLT_ALPHA} * x.value
                                + (1 - {_HOLT_ALPHA}) * (h.l + h.b)) - h.l)
                   + (1 - {_HOLT_BETA}) * h.b
        from h join x on x.user_id = h.user_id and x.rn = h.t + 1
    )
    select user_id,
           max(t) as n_points,
           round(max_by(l, t), 4) as level,
           round(max_by(b, t), 4) as trend,
           round(max_by(l, t) + max_by(b, t), 4) as forecast_1
    from h
    group by user_id
    order by user_id
"""


@register("user_value_holt", _HOLT_ORACLE)
def user_value_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double-exponential smoothing per user
    (α=0.5, β=0.3, classic init l₂=x₂, b₂=x₂−x₁), folded JVM-side with
    ``F.aggregate`` carrying a (level, trend) struct over the
    array-sorted value sequence — the coupled recursion no closed-form
    window can express, still zero Python UDFs. History is capped at
    the first {cap} observations per key, bounding per-key state at any
    scale (the EWMA entry's truncation argument, applied to a 2-state
    recursion). The oracle runs the SAME recursion as a recursive CTE —
    engine-independent sequential semantics, bit-aligned arithmetic
    order. Emits final level/trend and the one-step forecast."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.slice(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        1,
        _HOLT_CAP,
    )
    g = ev.groupBy("user_id").agg(seq.alias("__seq"))
    xs = F.transform(F.col("__seq"), lambda s: s["value"])
    n = F.size(xs)
    a, b = F.lit(_HOLT_ALPHA), F.lit(_HOLT_BETA)
    init = F.struct(
        F.element_at(xs, 2).alias("l"),
        (F.element_at(xs, 2) - F.element_at(xs, 1)).alias("b"),
    )

    def step(acc, x):
        lvl = a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        return F.struct(
            lvl.alias("l"),
            (b * (lvl - acc["l"]) + (F.lit(1.0) - b) * acc["b"]).alias("b"),
        )

    fin = F.aggregate(F.slice(xs, 3, F.greatest(n - 2, F.lit(0))), init, step)
    return (
        g.filter(n >= 2)
        .select(
            "user_id",
            n.alias("n_points"),
            F.round(fin["l"], 4).alias("level"),
            F.round(fin["b"], 4).alias("trend"),
            F.round(fin["l"] + fin["b"], 4).alias("forecast_1"),
        )
        .orderBy("user_id")
    )


user_value_holt.__doc__ = user_value_holt.__doc__.format(cap=_HOLT_CAP)


# --------------------------------------------------------------------------
# Adamic–Adar link prediction (customer pairs via shared parts)
# --------------------------------------------------------------------------

_AA_MAXDF = 20
_AA_MIN_COMMON = 2

_AA_ORACLE = f"""
    with ci as (
        select distinct o_custkey as u, l_partkey as i
        from lineitem join orders on l_orderkey = o_orderkey
    ), deg as (
        select i, count(*) as d from ci
        group by i having count(*) between 2 and {_AA_MAXDF}
    ), pairs as (
        select a.u as id_a, b.u as id_b,
               count(*) as n_common,
               round(sum(1.0 / ln(deg.d)), 4) as adamic_adar
        from ci a
        join ci b on a.i = b.i and a.u < b.u
        join deg on deg.i = a.i
        group by 1, 2
    )
    select id_a, id_b, n_common, adamic_adar
    from pairs where n_common >= {_AA_MIN_COMMON}
    order by id_a, id_b
"""


@register("customer_adamic_adar", _AA_ORACLE)
def customer_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the customer–part bipartite graph
    (``operators.graph.adamic_adar_pairs``): customer pairs sharing ≥2
    sufficiently-rare parts, scored Σ 1/ln(deg) so rare co-purchases
    dominate. The ``maxdf`` cap drops hot parts BEFORE the item-keyed
    self-join — the inverted-index posture (fan-out ≤ maxdf² per item)
    that keeps common-neighbor mining off the n² cliff at 100 TB; the
    oracle restates the identical cap."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    from flight_radar_pipeline_spark.operators.graph import adamic_adar_pairs

    membership = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
    )
    return (
        adamic_adar_pairs(
            membership, "u", "i", maxdf=_AA_MAXDF, min_common=_AA_MIN_COMMON
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# asymmetric n-gram containment (subset-copy detection)
# --------------------------------------------------------------------------

_CONT_T = 0.6
_CONT_MAXDF = 20
_SNIP_TOKENS = 25
_SNIP_MOD = 7
_SNIP_OFFSET = 100000

_CONT_ORACLE = rf"""
    with corpus as (
        select doc_id, text from documents
        union all
        select doc_id + {_SNIP_OFFSET},
               array_to_string(regexp_split_to_array(trim(text), '\s+')[1:{_SNIP_TOKENS}], ' ')
        from documents where doc_id % {_SNIP_MOD} = 0
    ), t as (
        select doc_id, regexp_split_to_array(trim(text), '\s+') as toks from corpus
    ), g0 as (
        select doc_id, unnest(list_distinct(
            case when len(toks) >= 3
                 then [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       for i in range(1, len(toks) - 1)]
                 else [] end)) as gram
        from t
    ), dfreq as (
        select gram from g0 group by gram having count(*) <= {_CONT_MAXDF}
    ), g as (
        select g0.doc_id, g0.gram from g0 join dfreq using (gram)
    ), sizes as (
        select doc_id, count(*) as sz from g group by doc_id
    ), inter as (
        select a.doc_id as id_a, b.doc_id as id_b, count(*) as inter_sz
        from g a join g b on a.gram = b.gram and a.doc_id < b.doc_id
        group by 1, 2
    ), directed as (
        select id_a as src_id, id_b as dst_id, inter_sz / sa.sz as c
        from inter join sizes sa on sa.doc_id = id_a
        union all
        select id_b, id_a, inter_sz / sb.sz
        from inter join sizes sb on sb.doc_id = id_b
    )
    select src_id, dst_id, round(c, 4) as containment
    from directed where c >= {_CONT_T}
    order by src_id, dst_id
"""


@register("doc_containment_pairs", _CONT_ORACLE)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (``operators.dedup.
    ngram_containment_pairs``) over documents ∪ synthesized 25-token
    excerpts: an excerpt scores containment ≈1.0 into its source while
    Jaccard stays tiny — the subset-copy / quotation relation symmetric
    dedup misses. Same maxdf-capped inverted-index scale posture as the
    Jaccard op (the Jaccard PREFIX filter is unsound for containment and
    is deliberately absent); oracle restates the whole construction."""
    from flight_radar_pipeline_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    snippets = docs.filter(F.col("doc_id") % _SNIP_MOD == 0).select(
        (F.col("doc_id") + _SNIP_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, _SNIP_TOKENS), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(snippets)
    return ngram_containment_pairs(
        corpus, "text", "doc_id", n=3,
        containment_threshold=_CONT_T, maxdf=_CONT_MAXDF,
    ).orderBy("src_id", "dst_id")


# --------------------------------------------------------------------------
# CDC apply with tombstones
# --------------------------------------------------------------------------

_CDC_ORACLE = """
    with log as (
        select o_orderkey, o_totalprice as price, 1 as seq, 'I' as op from orders
        union all
        select o_orderkey, o_totalprice + 50, 2, 'U' from orders
        where o_orderkey % 7 = 0
        union all
        select o_orderkey, cast(null as double), 3, 'D' from orders
        where o_orderkey % 13 = 0
    ), r as (
        select *, row_number() over (partition by o_orderkey
                                     order by seq desc, op desc) as rn
        from log
    )
    select o_orderkey, round(price, 2) as price
    from r where rn = 1 and op <> 'D'
    order by o_orderkey
"""


@register("orders_cdc_apply", _CDC_ORACLE)
def orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture materialization (``pipeline.cdc_apply``): an
    insert/update/delete log (synthesized: every order inserted at seq 1,
    every 7th updated at seq 2, every 13th tombstoned at seq 3) collapses
    to final state — highest sequence wins per key, keys whose winner is
    a delete vanish. The tombstone semantics SCD1 merge lacks; one
    key-shuffle window, replay-idempotent. Round-trips the lakehouse
    MERGE ... WHEN MATCHED DELETE shape over plain files."""
    from flight_radar_pipeline_spark.pipeline import cdc_apply

    orders = load_table(spark, sf_dir, "orders")
    ins = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 50).alias("price"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    dels = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("price"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    out = cdc_apply(log, ["o_orderkey"], seq_col="seq", op_col="op")
    return out.select(
        "o_orderkey", F.round("price", 2).alias("price")
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# SCD2 point-in-time enrichment (as-of against a version history)
# --------------------------------------------------------------------------

_PIT_ORACLE = """
    with hist as (
        select c_custkey as custkey, c_mktsegment as segment,
               timestamp '1990-01-01' as valid_from
        from customer
        union all
        select c_custkey, 'UPGRADED', timestamp '1995-07-01'
        from customer where c_custkey % 10 = 0
    )
    select o_orderkey, o_custkey as custkey,
           max_by(h.segment, h.valid_from) as segment
    from orders
    join hist h on h.custkey = o_custkey
               and h.valid_from <= o_orderdate::timestamp
    group by 1, 2
    order by o_orderkey
"""


@register("orders_pit_segment", _PIT_ORACLE)
def orders_pit_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each order enriched with the
    customer segment THAT WAS VALID on its order date, against a
    synthesized 2-version segment history (every 10th customer upgraded
    mid-1995) — the read side of SCD2, expressed as the backward as-of
    join (``operators.temporal.asof_join``: one key shuffle + one
    in-partition carry-forward window, no per-version range join, no
    interval explosion). The oracle restates it as argmax-over-validity;
    time-travel correctness at any scale the as-of join reaches."""
    from flight_radar_pipeline_spark.operators.temporal import asof_join

    cust = load_table(spark, sf_dir, "customer")
    hist = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.to_timestamp(F.lit("1990-01-01")).alias("valid_from"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 10 == 0).select(
            F.col("c_custkey").alias("custkey"),
            F.lit("UPGRADED").alias("segment"),
            F.to_timestamp(F.lit("1995-07-01")).alias("valid_from"),
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("timestamp").alias("odate"),
    )
    out = asof_join(orders, hist, on="custkey", left_ts="odate", right_ts="valid_from")
    return out.select("o_orderkey", "custkey", "segment").orderBy("o_orderkey")


# --------------------------------------------------------------------------
# grid nearest-neighbor within radius
# --------------------------------------------------------------------------

_NN_ORACLE = f"""
    with p as (
        select c_custkey as id, {_GEO_LAT} as lat, {_GEO_LON} as lon
        from customer
    ), cand as (
        select a.id as id, b.id as cand,
               round({_hav_sql("a.lat", "a.lon", "b.lat", "b.lon")}, 6) as km
        from p a join p b on a.id <> b.id
        where {_hav_sql("a.lat", "a.lon", "b.lat", "b.lon")} <= {_GEO_RADIUS_KM}
    )
    select id, cand as nn_id, round(km, 2) as nn_km
    from cand
    qualify row_number() over (partition by id order by km, cand) = 1
    order by id
"""


@register("customer_nearest_neighbor", _NN_ORACLE)
def customer_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded nearest neighbor per customer (``operators.
    spatial.geo_nearest_within``): grid-cell candidates in both
    orientations folded to one deterministic argmin —
    ``min(struct(km, id))``. The radius bound is the scalability
    contract (unbounded NN needs expanding probes); the oracle is the
    naive directed join + rank. Same md5 coordinates and 2° grid as
    ``customer_geo_cell_pairs``."""
    from flight_radar_pipeline_spark.operators.spatial import geo_nearest_within

    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        _geo_coord("c_custkey", "lat", 900, 45.0).alias("lat"),
        _geo_coord("c_custkey", "lon", 600, 30.0).alias("lon"),
    )
    nn = geo_nearest_within(
        pts, "id", "lat", "lon",
        radius_km=_GEO_RADIUS_KM, cell_deg=2.0, max_abs_lat=45.0,
    )
    return nn.select(
        "id", "nn_id", F.round("nn_km", 2).alias("nn_km")
    ).orderBy("id")


# --------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage scoring
# --------------------------------------------------------------------------

# (m, u) priors per comparison field: P(agree | match), P(agree | non-match).
# u(p_type) = 1/6 (six types, uniform); the weight literals below are the
# exact doubles math.log(m/u)/log(2) etc. produces, mirrored verbatim in
# the oracle so both engines sum identical IEEE values.
_FS_MU = {"p_type": (0.9, 1 / 6), "p_name": (0.7, 0.08), "p_retailprice": (0.8, 0.1)}

_FS_ORACLE = """
    with b as (
        select p_partkey, p_brand, p_size, p_type, p_name, p_retailprice
        from part
    )
    select a.p_partkey as id_a, c.p_partkey as id_b,
           coalesce(a.p_type = c.p_type, false) as p_type_agree,
           coalesce(split_part(a.p_name, ' ', 1) = split_part(c.p_name, ' ', 1),
                    false) as p_name_agree,
           coalesce(abs(a.p_retailprice - c.p_retailprice) <= 10.0,
                    false) as p_retailprice_agree,
           round(
             (case when coalesce(a.p_type = c.p_type, false)
                   then 2.4329594072761065 else -3.058893689053569 end)
           + (case when coalesce(split_part(a.p_name, ' ', 1)
                                 = split_part(c.p_name, ' ', 1), false)
                   then 3.129283016944967 else -1.6166713604484941 end)
           + (case when coalesce(abs(a.p_retailprice - c.p_retailprice) <= 10.0,
                                 false)
                   then 3.0 else -2.169925001442313 end), 4) as weight
    from b a join b c
      on a.p_brand = c.p_brand and a.p_size = c.p_size
     and a.p_partkey < c.p_partkey
    order by id_a, id_b
"""


@register("part_fs_match_weights", _FS_ORACLE)
def part_fs_match_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter match weights (``operators.mining.
    fellegi_sunter_weights``) over (brand, size)-blocked part pairs:
    type equality, name-head-token equality, and a ±10 price band each
    contribute log2(m/u) / log2((1−m)/(1−u)) — calibrated multi-field
    evidence instead of ``part_name_fuzzy_pairs``' single edit distance.
    Nulls count as disagreement. Quadratic work confined inside blocks
    whose key cardinality grows with the data (brand × 50 sizes here;
    ids/phonetic codes in production). Oracle mirrors the weight
    literals bit-for-bit."""
    from flight_radar_pipeline_spark.operators.mining import fellegi_sunter_weights

    part = load_table(spark, sf_dir, "part")
    out = fellegi_sunter_weights(
        part,
        "p_partkey",
        ["p_brand", "p_size"],
        _FS_MU,
        agree_fns={
            "p_name": lambda a, b: F.split_part(a, F.lit(" "), F.lit(1))
            == F.split_part(b, F.lit(" "), F.lit(1)),
            "p_retailprice": lambda a, b: F.abs(a - b) <= F.lit(10.0),
        },
    )
    return out.select(
        "id_a", "id_b", "p_type_agree", "p_name_agree", "p_retailprice_agree",
        F.round("weight", 4).alias("weight"),
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# per-language token-distribution drift (smoothed KL divergence)
# --------------------------------------------------------------------------

_KL_MIN_COUNT = 10

_KL_ORACLE = rf"""
    with tok as (
        select lang, unnest(regexp_split_to_array(trim(text), '\s+')) as t
        from documents
    ), vocab as (
        select t, count(*) as cg from tok
        group by t having count(*) >= {_KL_MIN_COUNT}
    ), gtot as (
        select count(*) as v, sum(cg) as tg from vocab
    ), lc as (
        select tok.lang, tok.t, count(*) as c
        from tok join vocab on vocab.t = tok.t
        group by 1, 2
    ), lt as (
        select lang, sum(c) as tl from lc group by lang
    ), grid as (
        select lt.lang, lt.tl, vocab.t, vocab.cg, coalesce(lc.c, 0) as c
        from lt cross join vocab
        left join lc on lc.lang = lt.lang and lc.t = vocab.t
    )
    select lang,
           cast(max(tl) as bigint) as n_tokens,
           round(sum(
             ((c + 1) / (tl + gtot.v))
             * log2(((c + 1) / (tl + gtot.v)) / ((cg + 1) / (gtot.tg + gtot.v)))
           ), 6) as kl_bits
    from grid cross join gtot
    group by lang
    order by lang
"""


@register("doc_lang_kl_drift", _KL_ORACLE)
def doc_lang_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-drift audit: per language, the add-one-smoothed KL
    divergence (bits) between that slice's token distribution and the
    whole corpus — the distribution-shift number a training-mixture
    designer watches (0 = slice looks like the corpus). The vocabulary
    is count-thresholded, so V is bounded and the lang × vocab smoothing
    grid stays tiny no matter the corpus size (the grid is the standard
    add-one device: absent tokens still carry probability 1/(T+V));
    corpus-sized work is two token-keyed aggregates. Sum order is
    engine-independent at 6 dp for bounded-V sums."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    )
    vocab = (
        tok.groupBy("t").agg(F.count(F.lit(1)).alias("cg"))
        .filter(F.col("cg") >= _KL_MIN_COUNT)
    )
    glob = vocab.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cg").alias("tg")
    )
    lc = (
        tok.join(vocab.select("t"), "t")
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lt = lc.groupBy("lang").agg(F.sum("c").alias("tl"))
    grid = (
        lt.crossJoin(F.broadcast(vocab))
        .join(lc, ["lang", "t"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .crossJoin(F.broadcast(glob))
    )
    p = (F.col("c") + 1) / (F.col("tl") + F.col("v"))
    q = (F.col("cg") + 1) / (F.col("tg") + F.col("v"))
    return (
        grid.groupBy("lang")
        .agg(
            F.max("tl").cast("bigint").alias("n_tokens"),
            F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_bits"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# k-anonymity / l-diversity audit
# --------------------------------------------------------------------------

_KANON_K = 10

_KANON_ORACLE = f"""
    select c_mktsegment as segment, c_nationkey as nationkey,
           cast(count(*) as bigint) as group_size,
           cast(count(distinct c_acctbal) as bigint) as l_diversity,
           count(*) < {_KANON_K} as k_violation
    from customer
    group by 1, 2
    order by segment, nationkey
"""


@register("customer_k_anonymity", _KANON_ORACLE)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-governance audit: treat (segment, nation) as the
    quasi-identifier and report each equivalence class's size
    (k-anonymity: any class under k={k} re-identifies members by the QI
    alone) and its distinct sensitive-value count (l-diversity on the
    account balance: a class where everyone shares one value leaks it
    even at large k). One groupBy shuffle; completes the governance
    family (`user_erasure_audit`, `doc_pii_redaction`) with the
    release-gate metric an anonymized-export pipeline checks."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct("c_acctbal").cast("bigint").alias("l_diversity"),
            (F.count(F.lit(1)) < _KANON_K).alias("k_violation"),
        )
        .orderBy("segment", "nationkey")
    )


customer_k_anonymity.__doc__ = customer_k_anonymity.__doc__.format(k=_KANON_K)


# --------------------------------------------------------------------------
# rolling 7-day distinct users via mergeable KMV partials
# --------------------------------------------------------------------------

_RKMV_K = 32

_RKMV_ORACLE = f"""
    with du as (
        select distinct date_trunc('day', ts)::date as d, user_id from events
    ), w as (
        select distinct d + (off::int) as wend, user_id
        from du cross join range(7) t(off)
    ), h as (
        select wend, user_id,
               ((('0x' || substr(md5('kmv-' || user_id::varchar), 1, 6))::bigint
                 + 0.5) / 16777216.0) as hv
        from w
    ), r as (
        select wend, hv,
               row_number() over (partition by wend order by hv, user_id) as rn
        from h
    ), x as (
        select wend, count(*) as n_exact from w group by wend
    ), kth as (
        select wend, hv as hk from r where rn = {_RKMV_K}
    )
    select strftime(x.wend, '%Y-%m-%d') as window_end,
           x.n_exact,
           case when x.n_exact <= {_RKMV_K} then x.n_exact::double
                else round(({_RKMV_K} - 1) / k.hk, 3) end as kmv_estimate
    from x left join kth k using (wend)
    order by window_end
"""


@register("user_kmv_rolling_7d", _RKMV_ORACLE)
def user_kmv_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user estimate from MERGEABLE per-day KMV
    partials: each day keeps only its k smallest unit-hashes (bounded
    state), each sliding window merges ≤7 such k-arrays — union,
    struct-dedup, re-take k — and reads the classic (k−1)/h_k estimate.
    Mergeability is exact for KMV (the window's k smallest hashes are
    each within their day's k smallest), so the hash match against the
    oracle's DIRECT per-window computation is the partial-merge ≡
    from-scratch proof — the property that lets a 100 TB rollup keep one
    tiny sketch per (day, key) and answer any window without re-scanning
    history. The exact column is the yardstick the sketch replaces
    (its per-window distinct costs the 7× replication the partials
    avoid); production keeps only the estimate."""
    from flight_radar_pipeline_spark.operators.sketches import (
        kmv_partials,
        merge_kmv_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    daily = kmv_partials(du, ["d"], "user_id", _RKMV_K)
    merged = merge_kmv_partials(
        daily.withColumn(
            "wend", F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        ),
        ["wend"],
        _RKMV_K,
    ).select(
        "wend",
        F.try_element_at("__mins", F.lit(_RKMV_K))["hv"].alias("hk"),
    )
    exact = (
        du.withColumn(
            "wend", F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        )
        .select("wend", "user_id")
        .distinct()
        .groupBy("wend")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        exact.join(merged, "wend", "left")
        .select(
            F.date_format("wend", "yyyy-MM-dd").alias("window_end"),
            "n_exact",
            F.when(
                F.col("n_exact") <= _RKMV_K, F.col("n_exact").cast("double")
            )
            .otherwise(F.round(F.lit(_RKMV_K - 1) / F.col("hk"), 3))
            .alias("kmv_estimate"),
        )
        .orderBy("window_end")
    )


# --------------------------------------------------------------------------
# streaming CDC apply (tombstones retained for cross-batch arbitration)
# --------------------------------------------------------------------------

@register("orders_cdc_stream_apply", _CDC_ORACLE)
def orders_cdc_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization: the same 3-batch I/U/D log as
    ``orders_cdc_apply`` arrives as a file stream ONE FILE PER
    MICROBATCH (maxFilesPerTrigger=1), and ``foreachBatch`` folds each
    batch into a versioned parquet state with ``dedup_by_key`` on
    (seq desc) — crucially the state RETAINS tombstone rows and their
    sequence numbers, so a late-replayed lower-seq change can never
    resurrect a deleted key (the arbitration batch ``cdc_apply`` gets
    for free by seeing the whole log at once); the read view filters
    tombstones at the end. Final state provably equals the batch
    operator — the oracle is shared verbatim. Production note:
    tombstones are GC'd past the replay horizon, exactly like
    stream-state watermarks."""
    import os

    from flight_radar_pipeline_spark.pipeline.silver import dedup_by_key

    orders = load_table(spark, sf_dir, "orders")
    work = scratch_dir("cdc_stream_")
    ins = orders.select(
        "o_orderkey", F.col("o_totalprice").alias("price"),
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
    )
    upd = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 50).alias("price"),
        F.lit(2).alias("seq"), F.lit("U").alias("op"),
    )
    dels = orders.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", F.lit(None).cast("double").alias("price"),
        F.lit(3).alias("seq"), F.lit("D").alias("op"),
    )
    # one wave-tagged write job, one file per batch, pinned ascending
    # mtimes (the shared ledger staging — the seq-keyed fold is
    # order-insensitive within a batch)
    log_stream = wave_stream(spark, work, [ins, upd, dels])
    versions = [None]

    def fold(batch: DataFrame, _bid: int) -> None:
        if versions[-1] is None:
            merged = dedup_by_key(batch, ["o_orderkey"], order_by=[F.desc("seq"), F.desc("op")])
        else:
            cur = spark.read.parquet(versions[-1])
            merged = dedup_by_key(
                cur.unionByName(batch),
                ["o_orderkey"],
                order_by=[F.desc("seq"), F.desc("op")],
            )
        nxt = os.path.join(work, f"v{len(versions)}")
        merged.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    run_microbatches(log_stream, fold, work)

    final = spark.read.parquet(versions[-1]).filter(F.col("op") != "D")
    return final.select(
        "o_orderkey", F.round("price", 2).alias("price")
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# degree-distribution power-law fit (log-log OLS over the histogram)
# --------------------------------------------------------------------------

_PL_ORACLE = """
    with deg as (
        select user_id, count(*) as d from events group by user_id
    ), hist as (
        select d, count(*) as cnt from deg group by d
    ), pts as (
        select ln(d::double) as x, ln(cnt::double) as y from hist where d >= 1
    ), s as (
        select count(*) as n, sum(x) as sx, sum(y) as sy,
               sum(x * x) as sxx, sum(x * y) as sxy, sum(y * y) as syy
        from pts
    )
    select cast(n as bigint) as n_points,
           round(-( (n * sxy - sx * sy) / (n * sxx - sx * sx) ), 6) as alpha,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                 6) as intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) as r2
    from s
"""


@register("user_degree_powerlaw", _PL_ORACLE)
def user_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent fit for the user-activity degree distribution:
    histogram the per-user event counts, OLS on (ln degree, ln count),
    report α = −slope with the fit's r² — the heavy-tail diagnostic that
    decides whether skew mitigation (salting, AQE) is needed BEFORE a
    key ever hotspots (r² near 1 with α in [1.5, 3] ⇒ scale-free-ish
    keys; the uniform testdata scores a poor fit by design, which is
    itself the reading). Everything after the two count-aggregates is
    closed-form sums over histogram points — |distinct degrees| rows,
    never the raw data. Complements `event_key_skew_report` (top-k mass)
    with the parametric tail shape."""
    ev = load_table(spark, sf_dir, "events")
    deg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    pts = hist.filter(F.col("d") >= 1).select(
        F.log(F.col("d").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(-slope, 6).alias("alpha"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# clamped running balance (floor-at-zero recursion, no window form)
# --------------------------------------------------------------------------

_BAL_DRAW = 50.0
_BAL_CAP = 60

_BAL_ORACLE = f"""
    with recursive o as (
        select user_id, value - {_BAL_DRAW} as delta,
               row_number() over (partition by user_id
                                  order by ts, event_id) as rn
        from events
    ), x as (
        select * from o where rn <= {_BAL_CAP}
    ), h as (
        select user_id, 1 as t,
               greatest(0.0, delta) as bal,
               case when delta < 0 then 1 else 0 end as clamps
        from x where rn = 1
        union all
        select h.user_id, h.t + 1,
               greatest(0.0, h.bal + x.delta),
               h.clamps + case when h.bal + x.delta < 0 then 1 else 0 end
        from h join x on x.user_id = h.user_id and x.rn = h.t + 1
    )
    select user_id,
           max(t) as n_points,
           round(max_by(bal, t), 4) as final_balance,
           max_by(clamps, t) as n_clamps
    from h
    group by user_id
    order by user_id
"""


@register("user_balance_clamped", _BAL_ORACLE)
def user_balance_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance per user (credits = event values,
    a fixed {draw} draw per event): bal′ = max(0, bal + Δ). The clamp
    makes the recursion NON-LINEAR — no prefix-sum/window rewrite exists
    (the clamp at step i changes every later step), so it folds JVM-side
    with ``F.aggregate`` over the array-sorted sequence, like the Holt
    entry but with a data-dependent branch per step; also counts how
    often the floor engaged. History capped at {cap} events per key
    bounding per-key state; the oracle runs the identical recursion as a
    recursive CTE. The inventory / prepaid-quota / rate-limiter state
    shape."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.slice(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        1,
        _BAL_CAP,
    )
    g = ev.groupBy("user_id").agg(seq.alias("__seq"))
    deltas = F.transform(
        F.col("__seq"), lambda s: s["value"] - F.lit(_BAL_DRAW)
    )
    init = F.struct(F.lit(0.0).alias("bal"), F.lit(0).alias("clamps"))

    def step(acc, d):
        raw = acc["bal"] + d
        return F.struct(
            F.greatest(F.lit(0.0), raw).alias("bal"),
            (acc["clamps"] + F.when(raw < 0, 1).otherwise(0)).alias("clamps"),
        )

    fin = F.aggregate(deltas, init, step)
    return g.select(
        "user_id",
        F.size("__seq").alias("n_points"),
        F.round(fin["bal"], 4).alias("final_balance"),
        fin["clamps"].alias("n_clamps"),
    ).orderBy("user_id")


user_balance_clamped.__doc__ = user_balance_clamped.__doc__.format(
    draw=_BAL_DRAW, cap=_BAL_CAP
)


# --------------------------------------------------------------------------
# sorted-neighborhood blocking (linkage pass #3)
# --------------------------------------------------------------------------

_SN_WINDOW = 3
_SN_PREFIX = 4
_SN_MAXDIST = 3

_SN_ORACLE = f"""
    with names as (
        select distinct p_name from part
    ), r as (
        select p_name, substr(p_name, 1, {_SN_PREFIX}) as blk,
               row_number() over (partition by substr(p_name, 1, {_SN_PREFIX})
                                  order by p_name) as rn
        from names
    )
    select a.p_name as name_a, b.p_name as name_b,
           levenshtein(a.p_name, b.p_name) as dist
    from r a join r b
      on a.blk = b.blk and b.rn > a.rn and b.rn <= a.rn + {_SN_WINDOW}
    where levenshtein(a.p_name, b.p_name) <= {_SN_MAXDIST}
    order by name_a, name_b
"""


@register("part_sorted_neighborhood_pairs", _SN_ORACLE)
def part_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking, the third linkage candidate
    strategy beside token blocking (`part_name_fuzzy_pairs`) and
    probabilistic scoring (`part_fs_match_weights`): names sort within a
    prefix block and each name pairs with its next {w} neighbors in
    sort order — candidate count is EXACTLY w·n regardless of block-size
    skew (token blocking is Σ|block|², which a hot token blows up).
    The sort window runs per prefix block, never globally, so the sort
    parallelizes; edit distance verifies candidates only. Misses pairs
    differing in the prefix itself — the same single-pass blind spot as
    token blocking, fixed the same way (a second pass on another key)."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    blk = F.substring("p_name", 1, _SN_PREFIX)
    w = Window.partitionBy(blk).orderBy("p_name")
    r = names.select(
        "p_name", blk.alias("__blk"), F.row_number().over(w).alias("__rn")
    )
    a = r.select(
        F.col("p_name").alias("name_a"),
        F.col("__blk").alias("__ba"),
        F.col("__rn").alias("__ra"),
    )
    b = r.select(
        F.col("p_name").alias("name_b"),
        F.col("__blk").alias("__bb"),
        F.col("__rn").alias("__rb"),
    )
    return (
        a.join(
            b,
            (F.col("__ba") == F.col("__bb"))
            & (F.col("__rb") > F.col("__ra"))
            & (F.col("__rb") <= F.col("__ra") + _SN_WINDOW),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= _SN_MAXDIST)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


part_sorted_neighborhood_pairs.__doc__ = part_sorted_neighborhood_pairs.__doc__.format(
    w=_SN_WINDOW
)


# --------------------------------------------------------------------------
# hybrid retrieval: BM25 ∪ vector ranking fused with RRF
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_LIST = 50
_RRF_OUT = 20
_RRF_QVEC = 0

_HYBRID_ORACLE = f"""
    with tok as (
        select doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) as term
        from documents
    ), tf as (
        select doc_id, term, count(*) as tf from tok
        where term in ('spark', 'shuffle', 'broadcast')
        group by doc_id, term
    ), dfreq as (
        select term, count(*) as ndocs from tf group by term
    ), dlen as (
        select doc_id,
               len(regexp_split_to_array(trim(text), '\\s+'))::double as dl
        from documents
    ), stats as (
        select count(*) as nn,
               avg(len(regexp_split_to_array(trim(text), '\\s+'))::double) as avgdl
        from documents
    ), bm25 as (
        -- ranks use the ROUNDED score, mirroring bm25_scores' 4-dp
        -- engine-portable rounding
        select tf.doc_id,
               round(sum(ln((stats.nn - dfreq.ndocs + 0.5)
                            / (dfreq.ndocs + 0.5) + 1.0)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))
               ), 4) as score
        from tf
        join dfreq using (term)
        join dlen on dlen.doc_id = tf.doc_id
        cross join stats
        group by tf.doc_id
        having round(sum(ln((stats.nn - dfreq.ndocs + 0.5)
                            / (dfreq.ndocs + 0.5) + 1.0)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl))), 4) > 0
    ), lex as (
        select doc_id,
               row_number() over (order by score desc, doc_id) as lex_rank
        from bm25
        qualify lex_rank <= {_RRF_LIST}
    ), q as (
        select embedding::DOUBLE[] as qv from embeddings
        where vec_id = {_RRF_QVEC}
    ), cos as (
        select vec_id as doc_id,
               round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) as cosine
        from embeddings cross join q
        where vec_id != {_RRF_QVEC}
    ), vec as (
        select doc_id,
               row_number() over (order by cosine desc, doc_id) as vec_rank
        from cos
        qualify vec_rank <= {_RRF_LIST}
    ), fused as (
        select coalesce(lex.doc_id, vec.doc_id) as doc_id,
               coalesce(lex.lex_rank, 0) as lex_rank,
               coalesce(vec.vec_rank, 0) as vec_rank,
               (case when lex.lex_rank is null then 0.0
                     else 1.0 / ({_RRF_K} + lex.lex_rank) end)
             + (case when vec.vec_rank is null then 0.0
                     else 1.0 / ({_RRF_K} + vec.vec_rank) end) as rrf
        from lex full outer join vec using (doc_id)
    )
    select doc_id, lex_rank, vec_rank, round(rrf, 6) as rrf
    from fused
    order by rrf desc, doc_id
    limit {_RRF_OUT}
"""


@register("doc_hybrid_rrf_search", _HYBRID_ORACLE)
def doc_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 lexical ranking (same query bag and
    parameters as `doc_bm25_query`) and an exact cosine ranking against
    one query embedding fuse with Reciprocal Rank Fusion —
    Σ 1/({k}+rank) over the lists a document appears in, rank 0 marking
    absence. RRF is THE production hybrid-search combiner (rank-based,
    so the two scorers' incomparable scales never meet). Both lists are
    top-{n} capped; at scale each side is its own pruned retrieval (ANN
    for vectors, impact-ordered postings for BM25) and the fusion is a
    |lists|·{n}-row full outer join — driver-free, shuffle on doc_id
    only."""
    from flight_radar_pipeline_spark.operators import similarity as S
    from flight_radar_pipeline_spark.operators.tfidf import bm25_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    # prune to the top-N FIRST (TakeOrderedAndProject — a distributed
    # partial top-k, no global sort), then rank the bounded N-row list
    # with a trivially-small window
    w_lex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        bm25_scores(docs, ["spark", "shuffle", "broadcast"], k1=1.2, b=0.75)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RRF_LIST)
        .select("doc_id", F.row_number().over(w_lex).alias("lex_rank"))
    )
    queries = emb.filter(F.col("vec_id") == _RRF_QVEC)
    w_vec = Window.orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    vec = (
        S.topk_neighbors_bruteforce(emb, queries, k=_RRF_LIST)
        .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        .limit(_RRF_LIST)
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.row_number().over(w_vec).alias("vec_rank"),
        )
    )
    rrf = (
        F.when(F.col("lex_rank") > 0, 1.0 / (F.lit(_RRF_K) + F.col("lex_rank")))
        .otherwise(F.lit(0.0))
        + F.when(F.col("vec_rank") > 0, 1.0 / (F.lit(_RRF_K) + F.col("vec_rank")))
        .otherwise(F.lit(0.0))
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
        )
        .withColumn("rrf", F.round(rrf, 6))
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_RRF_OUT)


# --------------------------------------------------------------------------
# ratio-to-parent / ratio-to-total report
# --------------------------------------------------------------------------

_SHARE_ORACLE = """
    with rev as (
        select r.r_name as region, n.n_name as nation,
               sum(o.o_totalprice) as revenue
        from orders o
        join customer c on c.c_custkey = o.o_custkey
        join nation n on n.n_nationkey = c.c_nationkey
        join region r on r.r_regionkey = n.n_regionkey
        group by 1, 2
    )
    select region, nation,
           round(revenue, 2) as revenue,
           round(revenue / sum(revenue) over (partition by region), 6)
               as share_of_region,
           round(revenue / sum(revenue) over (), 6) as share_of_total,
           cast(row_number() over (partition by region
                                   order by revenue desc, nation)
                as bigint) as rank_in_region
    from rev
    order by region, rank_in_region
"""


@register("nation_revenue_share", _SHARE_ORACLE)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent analytics: each nation's revenue as a share of
    its region and of the grand total, plus rank within region — the
    contribution-report window pattern (two window SUMs over one
    pre-aggregated frame). The fact table collapses to |nations| rows
    BEFORE any window, so the global-total window runs over ~25 rows —
    the pre-aggregate-then-window discipline that keeps share-of-total
    off the all-data-one-partition cliff at 100 TB. Dimensions join as
    broadcasts."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy("region").orderBy(
        F.desc("revenue"), F.asc("nation")
    )
    return rev.select(
        "region",
        "nation",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_of_total"
        ),
        F.row_number().over(w_rank).cast("bigint").alias("rank_in_region"),
    ).orderBy("region", "rank_in_region")


# --------------------------------------------------------------------------
# time-respecting (temporal) reachability
# --------------------------------------------------------------------------

_TR_HOPS = 3
_TR_SEEDS = 25
_TR_T0 = "1996-06-01"

_TR_ORACLE = f"""
    with pair as (
        select distinct 'c' || o_custkey as a, 's' || l_suppkey as b,
               o_orderdate as ts
        from lineitem join orders on l_orderkey = o_orderkey
    ), edges as (
        select a as src, b as dst, ts from pair
        union all
        select b as src, a as dst, ts from pair
    ), h0 as (
        select 'c' || c_custkey as node, timestamp '{_TR_T0}' as arrival
        from customer where c_custkey <= {_TR_SEEDS}
    ), h1 as (
        select e.dst as node, min(e.ts) as arrival
        from edges e join h0 on e.src = h0.node and e.ts >= h0.arrival
        where not exists (select 1 from h0 v where v.node = e.dst)
        group by e.dst
    ), h2 as (
        select e.dst as node, min(e.ts) as arrival
        from edges e join h1 on e.src = h1.node and e.ts >= h1.arrival
        where not exists (select 1 from h0 v where v.node = e.dst)
          and not exists (select 1 from h1 v where v.node = e.dst)
        group by e.dst
    ), h3 as (
        select e.dst as node, min(e.ts) as arrival
        from edges e join h2 on e.src = h2.node and e.ts >= h2.arrival
        where not exists (select 1 from h0 v where v.node = e.dst)
          and not exists (select 1 from h1 v where v.node = e.dst)
          and not exists (select 1 from h2 v where v.node = e.dst)
        group by e.dst
    )
    select node, 0 as hop, strftime(arrival, '%Y-%m-%d') as arrival from h0
    union all select node, 1, strftime(arrival, '%Y-%m-%d') from h1
    union all select node, 2, strftime(arrival, '%Y-%m-%d') from h2
    union all select node, 3, strftime(arrival, '%Y-%m-%d') from h3
    order by hop, node
"""


@register("entity_reach_temporal", _TR_ORACLE)
def entity_reach_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability (``operators.graph.
    time_respecting_reach``): who the top-{seeds} customers can reach
    through transaction edges whose ORDER DATES never decrease along the
    path, starting {t0} — the contact-tracing / information-flow
    semantics plain BFS overstates (`entity_reach_3hop` counts
    back-in-time paths; this one can't). Frontier carries earliest
    arrival per node; each hop is one edge join filtered ts ≥ arrival +
    one min-aggregate + one anti-join. Oracle unrolls the identical
    layers."""
    from flight_radar_pipeline_spark.operators.graph import time_respecting_reach

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    pair = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
            F.col("o_orderdate").alias("ts"),
        )
        .distinct()
    )
    edges = pair.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "ts"
    ).union(pair.select(F.col("b").alias("src"), F.col("a").alias("dst"), "ts"))
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _TR_SEEDS)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"),
            F.to_timestamp(F.lit(_TR_T0)).alias("ts0"),
        )
    )
    out = time_respecting_reach(edges, seeds, _TR_HOPS)
    return out.select(
        "node", "hop", F.date_format("arrival", "yyyy-MM-dd").alias("arrival")
    ).orderBy("hop", "node")


entity_reach_temporal.__doc__ = entity_reach_temporal.__doc__.format(
    seeds=_TR_SEEDS, t0=_TR_T0
)


# --------------------------------------------------------------------------
# mergeable moment partials (count/mean/variance rollup)
# --------------------------------------------------------------------------

_MOM_ORACLE = """
    select event_type,
           cast(count(value) as bigint) as n,
           round(avg(value), 4) as mean,
           round(var_samp(value), 4) as variance
    from events
    group by event_type
    order by event_type
"""


@register("event_value_stats_merged", _MOM_ORACLE)
def event_value_stats_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental statistics maintenance: per-(type, day) moment
    partials (n, mean, m2) merged to per-type totals with Chan's
    pairwise update folded in deterministic day order
    (``operators.sketches.moment_partials`` / ``merge_moment_partials``)
    — the hash match against the oracle's DIRECT variance proves
    partial-merge ≡ from-scratch, the mergeable-variance companion to
    `incremental_daily_rollup` (sums) and `user_kmv_rolling_7d`
    (distincts). A 100 TB metrics store keeps 3 numbers per (day, key)
    and re-aggregates any date range without raw history."""
    from flight_radar_pipeline_spark.operators.sketches import (
        merge_moment_partials,
        moment_partials,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "value"
    )
    partials = moment_partials(ev, ["event_type", "d"], "value")
    merged = merge_moment_partials(partials, ["event_type"], ["d"])
    return merged.select(
        "event_type",
        "n",
        F.round("mean", 4).alias("mean"),
        F.round(F.col("m2") / (F.col("n") - 1), 4).alias("variance"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# day-over-day rank shift (trending report)
# --------------------------------------------------------------------------

_RANK_ORACLE = """
    with d as (
        select date_trunc('day', ts)::date as day, event_type,
               cast(count(*) as bigint) as n
        from events group by 1, 2
    ), r as (
        select day, event_type, n,
               cast(row_number() over (partition by day
                                       order by n desc, event_type)
                    as bigint) as rnk
        from d
    )
    select strftime(day, '%Y-%m-%d') as day, event_type, n, rnk,
           cast(coalesce(lag(rnk) over (partition by event_type order by day),
                         rnk) - rnk as bigint) as rank_gain
    from r
    order by day, rnk
"""


@register("daily_type_rank_shift", _RANK_ORACLE)
def daily_type_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending report: each day's event-type leaderboard with the
    day-over-day rank movement (positive = climbed). Two windows over
    the |days|×|types| PRE-AGGREGATED frame — same discipline as
    `nation_revenue_share`: the fact table collapses first, so the
    leaderboard windows never see raw-event volume."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w_day = Window.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    r = d.select(
        "day", "event_type", "n", F.row_number().over(w_day).cast("bigint").alias("rnk")
    )
    w_type = Window.partitionBy("event_type").orderBy("day")
    return r.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        "rnk",
        (
            F.coalesce(F.lag("rnk").over(w_type), F.col("rnk")) - F.col("rnk")
        ).cast("bigint").alias("rank_gain"),
    ).orderBy("day", "rnk")


# --------------------------------------------------------------------------
# training-label balance audit
# --------------------------------------------------------------------------

_LBL_ORACLE = """
    with c as (
        select label, cast(count(*) as bigint) as n from embeddings group by label
    )
    select label, n,
           round(n / sum(n) over (), 6) as share,
           round(n / max(n) over (), 6) as vs_majority,
           round(-log2(n / sum(n) over ()) , 4) as surprisal_bits
    from c
    order by label
"""


@register("embedding_label_balance", _LBL_ORACLE)
def embedding_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit over the training labels: per-label share,
    ratio to the majority class, and surprisal — the imbalance report
    that decides resampling weights before a training run (a label with
    vs_majority ≪ 1 needs oversampling or loss weighting). Windows run
    over the |labels|-row pre-aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_all = Window.partitionBy()
    return c.select(
        "label",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_all), 6).alias("share"),
        F.round(F.col("n") / F.max("n").over(w_all), 6).alias("vs_majority"),
        F.round(-F.log2(F.col("n") / F.sum("n").over(w_all)), 4).alias(
            "surprisal_bits"
        ),
    ).orderBy("label")


# --------------------------------------------------------------------------
# streaming-maintained KMV partials (same result as the batch rolling entry)
# --------------------------------------------------------------------------

@register("user_kmv_stream_partials", _RKMV_ORACLE)
def user_kmv_stream_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance: events arrive in 3 microbatches
    (hash-split files) and ``foreachBatch`` folds each batch's per-day
    KMV k-min arrays into a versioned partial-table — merge = union,
    struct-dedup, re-take-k per day, the same exact-mergeability used
    window-side. After the stream drains, the sliding-window merge and
    estimator run over the MAINTAINED partials and must equal the batch
    entry bit-for-bit (the oracle is shared verbatim with
    `user_kmv_rolling_7d`): the proof that a 100 TB metrics stream can
    keep one bounded sketch per (day, key), update it incrementally
    forever, and answer any window without ever revisiting raw events.
    The exact yardstick column is computed batch-side as before."""
    import os

    from flight_radar_pipeline_spark.operators.sketches import (
        kmv_partials,
        merge_kmv_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    work = scratch_dir("kmv_stream_")
    stream = wave_stream(
        spark, work, [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    )

    def day_partials(batch: DataFrame) -> DataFrame:
        return kmv_partials(
            batch.select(F.to_date("ts").alias("d"), "user_id"),
            ["d"], "user_id", _RKMV_K,
        )

    versions: list[str | None] = [None]

    def fold(batch: DataFrame, _bid: int) -> None:
        p = day_partials(batch)
        if versions[-1] is not None:
            prev = spark.read.parquet(versions[-1])
            p = merge_kmv_partials(prev.unionByName(p), ["d"], _RKMV_K)
        nxt = os.path.join(work, f"v{len(versions)}")
        p.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    run_microbatches(stream, fold, work)

    daily = spark.read.parquet(versions[-1])
    merged = merge_kmv_partials(
        daily.withColumn(
            "wend", F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        ),
        ["wend"],
        _RKMV_K,
    ).select(
        "wend",
        F.try_element_at("__mins", F.lit(_RKMV_K))["hv"].alias("hk"),
    )
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    exact = (
        du.withColumn(
            "wend", F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        )
        .select("wend", "user_id")
        .distinct()
        .groupBy("wend")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        exact.join(merged, "wend", "left")
        .select(
            F.date_format("wend", "yyyy-MM-dd").alias("window_end"),
            "n_exact",
            F.when(
                F.col("n_exact") <= _RKMV_K, F.col("n_exact").cast("double")
            )
            .otherwise(F.round(F.lit(_RKMV_K - 1) / F.col("hk"), 3))
            .alias("kmv_estimate"),
        )
        .orderBy("window_end")
    )


# --------------------------------------------------------------------------
# rollup restatement diff (late-data backfill detection)
# --------------------------------------------------------------------------

_RESTATE_ORACLE = """
    with base as (
        select o_orderpriority, cast(count(*) as bigint) as n_orders,
               round(sum(o_totalprice), 2) as revenue
        from orders where o_orderkey % 11 != 0
        group by o_orderpriority
    ), late as (
        select o_orderpriority, cast(count(*) as bigint) as n_orders,
               round(sum(o_totalprice), 2) as revenue
        from orders where o_orderkey % 11 = 0
        group by o_orderpriority
    ), full_r as (
        -- mirrors merge_rollup: the stored partials are ALREADY rounded,
        -- so the restated value is the rounded sum of rounded parts
        select coalesce(b.o_orderpriority, l.o_orderpriority) as o_orderpriority,
               coalesce(b.n_orders, 0) + coalesce(l.n_orders, 0) as n_orders,
               round(coalesce(b.revenue, 0) + coalesce(l.revenue, 0), 2) as revenue
        from base b full outer join late l using (o_orderpriority)
    )
    select coalesce(b.o_orderpriority, f.o_orderpriority) as o_orderpriority,
           case when b.o_orderpriority is null then 'added'
                when f.o_orderpriority is null then 'removed'
                else 'changed' end as change_type
    from base b full outer join full_r f using (o_orderpriority)
    where b.o_orderpriority is null or f.o_orderpriority is null
       or b.n_orders != f.n_orders or b.revenue != f.revenue
    order by o_orderpriority
"""


@register("rollup_restatement_diff", _RESTATE_ORACLE)
def rollup_restatement_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill restatement detection: a late slice (every 11th order)
    arrives after the rollup was published; merging its delta restates
    some groups, and `operators.cdc.snapshot_changes` diffs stored vs
    restated rollups to name EXACTLY the groups needing republication —
    the partition-level invalidation signal an incremental pipeline
    feeds to dynamic partition overwrite (re-land only changed groups,
    never the full rollup). Composes merge_rollup + fingerprint diff;
    both rollups are |groups|-row frames."""
    from flight_radar_pipeline_spark.operators.cdc import (
        row_fingerprint,
        snapshot_changes,
    )
    from flight_radar_pipeline_spark.pipeline import merge_rollup

    orders = load_table(spark, sf_dir, "orders")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )

    base = rollup(orders.filter(F.col("o_orderkey") % 11 != 0))
    late = rollup(orders.filter(F.col("o_orderkey") % 11 == 0)).withColumn(
        "revenue", F.col("revenue")
    )
    restated = merge_rollup(base, late, ["o_orderpriority"], ["n_orders", "revenue"])
    restated = restated.select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round("revenue", 2).alias("revenue"),
    )
    fp = row_fingerprint(
        [F.col("n_orders").cast("string"), F.format_number("revenue", 2)]
    )
    return snapshot_changes(base, restated, "o_orderpriority", fp).orderBy(
        "o_orderpriority"
    )


# --------------------------------------------------------------------------
# incremental maintenance of a JOIN view (delta rule, no aggregation)
# --------------------------------------------------------------------------

_JIVM_ORACLE = """
    select o.o_orderkey, l.l_linenumber, o.o_custkey,
           round(l.l_extendedprice, 2) as price
    from orders o join lineitem l on l.l_orderkey = o.o_orderkey
    order by o_orderkey, l_linenumber
"""


@register("orders_lineitem_join_ivm", _JIVM_ORACLE)
def orders_lineitem_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a NON-aggregate join view
    V = orders ⋈ lineitem under insert deltas on BOTH sides, via the
    bilinear delta rule ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB (joins distribute
    over union, so the maintained V₀ ∪ ΔV provably equals the full
    join — which is exactly what the oracle computes). Every 9th order
    and every 7th lineitem play the delta batch; the stored V₀ is the
    base⋈base join. At 100 TB the three delta joins touch only
    delta-keyed partitions of each base (the stored view is appended,
    never rebuilt) — the non-aggregate complement to
    `nation_revenue_view_ivm`'s signed-delta aggregate maintenance.
    All four joins share one key, so co-partitioned/bucketed bases make
    them shuffle-free on the big side."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    a_delta = F.col("o_orderkey") % 9 == 0
    b_delta = F.col("l_orderkey") % 7 == 0
    a0, da = orders.filter(~a_delta), orders.filter(a_delta)
    b0, db = li.filter(~b_delta), li.filter(b_delta)

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderkey",
            "l_linenumber",
            "o_custkey",
            F.round("l_extendedprice", 2).alias("price"),
        )

    v0 = j(a0, b0)
    maintained = (
        v0.unionByName(j(da, b0)).unionByName(j(a0, db)).unionByName(j(da, db))
    )
    return maintained.orderBy("o_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# k-fold split parity audit (stratification check)
# --------------------------------------------------------------------------

_FOLD_K = 5

_PARITY_ORACLE = f"""
    with f as (
        select doc_id, lang,
               ('0x' || substr(md5(doc_id::varchar), 1, 12))::bigint
                   % {_FOLD_K} as fold
        from documents
    ), fl as (
        select fold, lang, cast(count(*) as bigint) as n from f group by 1, 2
    ), tot as (
        select lang, sum(n) as lang_n from fl group by lang
    ), ftot as (
        select fold, sum(n) as fold_n from fl group by fold
    ), alln as (
        select sum(n) as total from fl
    )
    select fl.fold, fl.lang, fl.n,
           round(fl.n / ftot.fold_n, 6) as fold_share,
           round(tot.lang_n / alln.total, 6) as corpus_share,
           round(abs(fl.n / ftot.fold_n - tot.lang_n / alln.total), 6) as abs_dev
    from fl
    join tot using (lang)
    join ftot using (fold)
    cross join alln
    order by fold, lang
"""


@register("doc_fold_label_parity", _PARITY_ORACLE)
def doc_fold_label_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation stratification audit: assign documents to
    {k} md5-derived folds (reproducible on any engine — the same
    auditable-split property as `doc_deterministic_sample`), then
    compare each fold's language mix against the corpus mix — abs_dev
    near 0 everywhere means the folds are exchangeable; a hot deviation
    says stratified assignment is needed before metrics on that fold
    mean anything. Everything after the (fold, lang) count is
    |folds|×|langs|-row arithmetic via broadcast-sized joins."""
    from flight_radar_pipeline_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id", "lang", T.hash_bucket(F.col("doc_id"), _FOLD_K).alias("fold")
    )
    fl = f.groupBy("fold", "lang").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = fl.groupBy("lang").agg(F.sum("n").alias("lang_n"))
    ftot = fl.groupBy("fold").agg(F.sum("n").alias("fold_n"))
    alln = fl.agg(F.sum("n").alias("total"))
    return (
        fl.join(F.broadcast(tot), "lang")
        .join(F.broadcast(ftot), "fold")
        .crossJoin(F.broadcast(alln))
        .select(
            "fold",
            "lang",
            "n",
            F.round(F.col("n") / F.col("fold_n"), 6).alias("fold_share"),
            F.round(F.col("lang_n") / F.col("total"), 6).alias("corpus_share"),
            F.round(
                F.abs(F.col("n") / F.col("fold_n") - F.col("lang_n") / F.col("total")),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("fold", "lang")
    )


# --------------------------------------------------------------------------
# streaming-maintained drift alarm (mergeable moments, incremental)
# --------------------------------------------------------------------------

_DRIFT_ORACLE = """
    with overall as (
        select event_type,
               cast(count(value) as bigint) as n,
               avg(value) as mean_overall,
               var_samp(value) as var_overall
        from events group by event_type
    ), last_day as (
        select event_type, avg(value) as mean_last,
               cast(count(*) as bigint) as n_last
        from events
        where date_trunc('day', ts)::date
              = (select max(date_trunc('day', ts)::date) from events)
        group by event_type
    )
    select o.event_type, o.n,
           round(o.mean_overall, 4) as mean_overall,
           round(o.var_overall, 4) as var_overall,
           l.n_last,
           round(l.mean_last, 4) as mean_last,
           round((l.mean_last - o.mean_overall) / sqrt(o.var_overall), 4)
               as shift_sigma
    from overall o join last_day l using (event_type)
    order by event_type
"""


@register("event_drift_stream_moments", _DRIFT_ORACLE)
def event_drift_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift alarm on incrementally-maintained moments: events
    arrive in 3 microbatches; ``foreachBatch`` appends per (type, day,
    batch) moment partials to a state table — pure appends, never a
    recompute — and the final report merges them (Chan fold in
    deterministic (day, batch) order) into per-type overall mean/var
    plus the LAST day's mean, flagging the level shift in pooled-σ
    units. The oracle computes everything DIRECTLY from raw events, so
    the hash match proves the maintained-state path end-to-end: the
    monitoring pattern where a 100 TB feed keeps 3 numbers per
    (key, day) and the drift query never touches raw history."""
    import os

    from flight_radar_pipeline_spark.operators.sketches import (
        merge_moment_partials,
        moment_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    work = scratch_dir("drift_stream_")
    stream = wave_stream(
        spark, work, [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    )
    state_dir = os.path.join(work, "state")

    def fold(batch: DataFrame, bid: int) -> None:
        p = moment_partials(
            batch.select("event_type", F.to_date("ts").alias("d"), "value"),
            ["event_type", "d"],
            "value",
        ).withColumn("b", F.lit(int(bid)))
        p.write.mode("append").parquet(state_dir)

    run_microbatches(stream, fold, work)

    partials = spark.read.parquet(state_dir)
    overall = merge_moment_partials(partials, ["event_type"], ["d", "b"])
    last_day = partials.agg(F.max("d").alias("__maxd"))
    last = merge_moment_partials(
        partials.join(F.broadcast(last_day), partials["d"] == last_day["__maxd"]),
        ["event_type"],
        ["d", "b"],
    ).select(
        F.col("event_type").alias("__t2"),
        F.col("n").alias("n_last"),
        F.col("mean").alias("mean_last"),
    )
    return (
        overall.join(last, overall["event_type"] == F.col("__t2"))
        .select(
            "event_type",
            "n",
            F.round("mean", 4).alias("mean_overall"),
            F.round(F.col("m2") / (F.col("n") - 1), 4).alias("var_overall"),
            "n_last",
            F.round("mean_last", 4).alias("mean_last"),
            F.round(
                (F.col("mean_last") - F.col("mean"))
                / F.sqrt(F.col("m2") / (F.col("n") - 1)),
                4,
            ).alias("shift_sigma"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# bounded weighted shortest distance (Bellman-Ford, k relaxation rounds)
# --------------------------------------------------------------------------

_MC_HOPS = 3
_MC_SEEDS = 15

_MC_ORACLE = f"""
    with pair as (
        select 'c' || o_custkey as a, 's' || l_suppkey as b,
               min(floor(l_quantity))::bigint as w
        from lineitem join orders on l_orderkey = o_orderkey
        group by 1, 2
    ), edges as (
        select a as src, b as dst, w from pair
        union all
        select b as src, a as dst, w from pair
    ), d0 as (
        select 'c' || c_custkey as node, 0::bigint as cost
        from customer where c_custkey <= {_MC_SEEDS}
    ), d1 as (
        select node, min(cost)::bigint as cost from (
            select node, cost from d0
            union all
            select e.dst as node, d0.cost + e.w as cost
            from edges e join d0 on e.src = d0.node
        ) group by node
    ), d2 as (
        select node, min(cost)::bigint as cost from (
            select node, cost from d1
            union all
            select e.dst as node, d1.cost + e.w as cost
            from edges e join d1 on e.src = d1.node
        ) group by node
    ), d3 as (
        select node, min(cost)::bigint as cost from (
            select node, cost from d2
            union all
            select e.dst as node, d2.cost + e.w as cost
            from edges e join d2 on e.src = d2.node
        ) group by node
    )
    select node, cost as min_cost from d3 order by node
"""


@register("entity_min_cost_3hop", _MC_ORACLE)
def entity_min_cost_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted companion to ``entity_reach_3hop``: minimum path COST
    (edge weight = the pair's smallest lineitem quantity, an integer so
    the comparison is exact) from the seed customers to every entity
    reachable in <= 3 edges on the symmetrized customer-supplier graph,
    via ``operators.graph.bounded_min_cost`` — Bellman-Ford with an
    improved-only frontier, edges repartitioned on src once, min-merge
    per round. The oracle unrolls the same three relaxation rounds as
    CTE layers; improved-frontier pruning is provably lossless against
    that full relaxation, so the hash match certifies the optimization."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .agg(F.min(F.floor("l_quantity")).cast("bigint").alias("w"))
    )
    edges = pair.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(pair.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= _MC_SEEDS)
        .select(F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"))
    )
    return bounded_min_cost(edges, seeds, _MC_HOPS).orderBy("node")


# --------------------------------------------------------------------------
# mergeable equi-width histogram quantiles
# --------------------------------------------------------------------------

_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 500.0, 50
_HQ_PROBS = [0.5, 0.9, 0.99]

_HQ_ORACLE = f"""
    with b as (
        select event_type,
               least({_HQ_BINS - 1}, greatest(0,
                   floor((value - {_HQ_LO}) / {(_HQ_HI - _HQ_LO) / _HQ_BINS})::int
               )) as bucket
        from events
    ), m as (
        select event_type, bucket, count(*)::bigint as bin_count
        from b group by 1, 2
    ), c as (
        select event_type, bucket, bin_count,
               sum(bin_count) over (partition by event_type order by bucket) as cum,
               sum(bin_count) over (partition by event_type) as n
        from m
    ), x as (
        select event_type, bucket, bin_count, cum, n, p
        from c cross join (select unnest([{", ".join(str(p) for p in _HQ_PROBS)}]) as p) pp
    ), f as (
        select *, row_number() over (partition by event_type, p order by bucket) as rn
        from x where cum >= p * n
    )
    select event_type, p,
           round({_HQ_LO} + {(_HQ_HI - _HQ_LO) / _HQ_BINS}
                 * (bucket + (p * n - (cum - bin_count)) / bin_count), 6) as quantile,
           n::bigint as n
    from f where rn = 1
    order by event_type, p
"""


@register("event_value_hist_quantiles", _HQ_ORACLE)
def event_value_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p50/p90/p99 from MERGED equi-width histogram partials
    (``operators.sketches.hist_partials`` built per (type, day), added
    across days by ``merge_hist_partials``, interpolated by
    ``hist_quantiles``) — the fully-deterministic quantile sketch: unlike
    ``approx_percentile`` the state restates exactly in SQL, so this
    carries a full value-hash oracle where ``order_price_deciles_approx``
    must stay rows-only. State is 50 longs per group whatever the row
    count; the plan is one map-side-combinable groupBy plus a
    50-row-per-group window — the shape that survives a 100 TB day-
    partitioned fact table because partials merge without re-scanning."""
    from flight_radar_pipeline_spark.operators.sketches import (
        hist_partials,
        hist_quantiles,
        merge_hist_partials,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    partials = hist_partials(
        ev, "value", ["event_type", "day"], _HQ_LO, _HQ_HI, _HQ_BINS
    )
    merged = merge_hist_partials(partials, ["event_type"])
    return (
        hist_quantiles(
            merged, ["event_type"], _HQ_PROBS, _HQ_LO, _HQ_HI, _HQ_BINS
        )
        .select(
            "event_type", "p", F.round("quantile", 6).alias("quantile"), "n"
        )
        .orderBy("event_type", "p")
    )


# --------------------------------------------------------------------------
# lead/lag cross-correlation between two hourly series
# --------------------------------------------------------------------------

_CCF_MAX_LAG = 3

_CCF_ORACLE = """
    with bounds as (
        select date_trunc('hour', min(ts)) as lo, date_trunc('hour', max(ts)) as hi
        from events
    ), hours as (
        select unnest(generate_series(lo, hi, interval 1 hour)) as hour_start
        from bounds
    ), v as (
        select date_trunc('hour', ts) as hour_start, count(*) as n
        from events where event_type = 'view' group by 1
    ), c as (
        select date_trunc('hour', ts) as hour_start, count(*) as n
        from events where event_type = 'click' group by 1
    ), g as (
        select h.hour_start,
               coalesce(v.n, 0)::double as x,
               coalesce(c.n, 0)::double as y
        from hours h
        left join v on h.hour_start = v.hour_start
        left join c on h.hour_start = c.hour_start
    ), l as (
        select x, y,
               lead(y, 1) over (order by hour_start) as y1,
               lead(y, 2) over (order by hour_start) as y2,
               lead(y, 3) over (order by hour_start) as y3
        from g
    )
    select 0 as lag, count(y)::bigint as n_pairs, round(corr(x, y), 4) as ccf from l
    union all
    select 1, count(y1)::bigint, round(corr(x, y1), 4) from l
    union all
    select 2, count(y2)::bigint, round(corr(x, y2), 4) from l
    union all
    select 3, count(y3)::bigint, round(corr(x, y3), 4) from l
    order by lag
"""


@register("view_click_crosscorr", _CCF_ORACLE)
def view_click_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the hourly VIEW series and the
    CLICK series at leads 0..3 — does click volume echo view volume an
    hour later? Complements ``event_value_lag_autocorr`` (self) with the
    two-series diagnostic behind feed-latency / campaign-lift questions.
    The series is the gap-filled hourly spine (``hourly_timeline_dense``
    shape) so missing hours count as 0 instead of silently contracting
    the lag axis. The global-order window runs over the AGGREGATED
    series — O(hours), thousands of rows at 100 TB of raw events — never
    over the fact table; everything upstream is map-side-combinable
    counts."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_start"
        )
    )

    def hourly(t: str, name: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    g = (
        hours.join(hourly("view", "xv"), "hour_start", "left")
        .join(hourly("click", "yc"), "hour_start", "left")
        .select(
            "hour_start",
            F.coalesce("xv", F.lit(0)).cast("double").alias("x"),
            F.coalesce("yc", F.lit(0)).cast("double").alias("y"),
        )
    )
    w = Window.orderBy("hour_start")
    lagged = g.select(
        "x",
        F.col("y").alias("y0"),
        *[
            F.lead("y", k).over(w).alias(f"y{k}")
            for k in range(1, _CCF_MAX_LAG + 1)
        ],
    )
    aggs = []
    for k in range(_CCF_MAX_LAG + 1):
        aggs.append(F.count(F.col(f"y{k}")).alias(f"n{k}"))
        aggs.append(F.round(F.corr("x", f"y{k}"), 4).alias(f"c{k}"))
    one = lagged.agg(*aggs)
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col(f"n{k}").alias("n_pairs"),
                        F.col(f"c{k}").alias("ccf"),
                    )
                    for k in range(_CCF_MAX_LAG + 1)
                ]
            )
        ).alias("r")
    ).select("r.lag", "r.n_pairs", "r.ccf")
    return rows.orderBy("lag")


# --------------------------------------------------------------------------
# quantile-transform normalization via the broadcast histogram CDF
# --------------------------------------------------------------------------

_CDF_W = (_HQ_HI - _HQ_LO) / _HQ_BINS

_CDF_ORACLE = f"""
    with b as (
        select event_type,
               least({_HQ_BINS - 1}, greatest(0,
                   floor((value - {_HQ_LO}) / {_CDF_W})::int)) as bucket,
               count(*)::bigint as bin_count
        from events group by 1, 2
    ), c as (
        select event_type, bucket, bin_count,
               sum(bin_count) over (partition by event_type order by bucket) as cum,
               sum(bin_count) over (partition by event_type) as n
        from b
    )
    select e.event_id, e.event_type,
           round((c.cum - c.bin_count
                  + least(1.0, greatest(0.0,
                        (e.value - ({_HQ_LO} + c.bucket * {_CDF_W})) / {_CDF_W}))
                    * c.bin_count) / c.n, 6) as pct
    from events e join c
      on e.event_type = c.event_type
     and c.bucket = least({_HQ_BINS - 1}, greatest(0,
             floor((e.value - {_HQ_LO}) / {_CDF_W})::int))
    order by e.event_id
"""


@register("event_value_cdf_norm", _CDF_ORACLE)
def event_value_cdf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-transform feature normalization: every event's value
    mapped to its approximate per-type percentile by interpolating the
    MERGED histogram CDF (``operators.sketches.hist_partials`` state,
    50 bins) — the scalable form of ``percent_rank`` over the fact
    table, which would sort every type's full history per query. Here
    the fact side only broadcast-joins the |types|×50-row CDF on
    (type, bucket) and does row-local arithmetic: no fact-table window,
    no sort, state independent of row count. Second consumer of the
    histogram sketch (quantiles are the first), proving the state is a
    reusable CDF, not a one-query intermediate."""
    from flight_radar_pipeline_spark.operators.sketches import (
        hist_partials,
        merge_hist_partials,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    merged = merge_hist_partials(
        hist_partials(ev, "value", ["event_type"], _HQ_LO, _HQ_HI, _HQ_BINS),
        ["event_type"],
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = merged.select(
        "event_type",
        "bucket",
        "bin_count",
        F.sum("bin_count").over(cum_w).alias("cum"),
        F.sum("bin_count").over(Window.partitionBy("event_type")).alias("n"),
    )
    bucket = F.least(
        F.lit(_HQ_BINS - 1),
        F.greatest(F.lit(0), F.floor((F.col("value") - _HQ_LO) / _CDF_W).cast("int")),
    )
    frac = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            (F.col("value") - (F.lit(_HQ_LO) + F.col("bucket") * F.lit(_CDF_W)))
            / F.lit(_CDF_W),
        ),
    )
    return (
        ev.withColumn("bucket", bucket)
        .join(F.broadcast(cdf), ["event_type", "bucket"])
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("cum") - F.col("bin_count") + frac * F.col("bin_count"))
                / F.col("n"),
                6,
            ).alias("pct"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# ABC / Pareto classification over part revenue
# --------------------------------------------------------------------------

_ABC_A, _ABC_B = 0.8, 0.95

_ABC_ORACLE = f"""
    with rev as (
        -- integer cents so every running sum is exact on both engines
        select l_partkey as partkey,
               sum(floor(l_extendedprice * (1 - l_discount) * 100)::bigint)
                   as rev_cents
        from lineitem group by 1
    ), ranked as (
        select partkey, rev_cents,
               sum(rev_cents) over (
                   order by rev_cents desc, partkey
               ) as cum_cents,
               sum(rev_cents) over () as total_cents
        from rev
    ), classed as (
        select partkey, rev_cents,
               case when cum_cents <= {_ABC_A} * total_cents then 'A'
                    when cum_cents <= {_ABC_B} * total_cents then 'B'
                    else 'C' end as abc_class,
               total_cents
        from ranked
    )
    select abc_class,
           count(*)::bigint as n_parts,
           round(sum(rev_cents) / max(total_cents)::double, 6) as revenue_share
    from classed
    group by abc_class
    order by abc_class
"""


@register("part_revenue_abc", _ABC_ORACLE)
def part_revenue_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    class A = the head covering 80% of cumulative revenue, B to 95%, C
    the tail — the classic working-capital report. Revenue is summed in
    integer CENTS so the running sum is exact and the class boundary
    can't flip on float summation order. The running sum runs over the
    PRE-AGGREGATED |parts| frame via the range-partitioned prefix-sum
    device (`operators/prefix.ranged_cumulative`) - the |parts| grid
    grows with the data, so no single-partition window (round 10)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("rev_cents")
    )
    # range-partitioned running sum (round-10: the |parts| frame grows
    # with the data; bucket partials + broadcast offsets replace the
    # single-partition Window.orderBy) - identity on exact cents
    ranked = ranged_cumulative(
        rev,
        "rev_cents",
        ["rev_cents"],
        ascending=False,
        tiebreakers=["partkey"],
        with_totals=True,
        materialize_input=True,
    ).select(
        "partkey",
        "rev_cents",
        F.col("rev_cents_cum").alias("cum_cents"),
        F.col("rev_cents_tot").alias("total_cents"),
    )
    classed = ranked.select(
        "rev_cents",
        "total_cents",
        F.when(F.col("cum_cents") <= _ABC_A * F.col("total_cents"), "A")
        .when(F.col("cum_cents") <= _ABC_B * F.col("total_cents"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum("rev_cents") / F.max("total_cents").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# --------------------------------------------------------------------------
# two-sample KS drift between type value distributions (histogram CDFs)
# --------------------------------------------------------------------------

_KS_ORACLE = f"""
    with b as (
        select event_type,
               least({_HQ_BINS - 1}, greatest(0,
                   floor((value - {_HQ_LO}) / {_CDF_W})::int)) as bucket,
               count(*)::bigint as bin_count
        from events group by 1, 2
    ), spine as (
        select t.event_type, g.bucket
        from (select distinct event_type from events) t
        cross join (select unnest(range(0, {_HQ_BINS})) as bucket) g
    ), dense as (
        select s.event_type, s.bucket, coalesce(b.bin_count, 0) as bin_count
        from spine s left join b using (event_type, bucket)
    ), c as (
        select event_type, bucket,
               sum(bin_count) over (partition by event_type order by bucket)
                   / (sum(bin_count) over (partition by event_type))::double
                   as cdf,
               sum(bin_count) over (partition by event_type) as n
        from dense
    )
    select a.event_type as type_a, x.event_type as type_b,
           round(max(abs(a.cdf - x.cdf)), 6) as ks_stat,
           max(a.n)::bigint as n_a, max(x.n)::bigint as n_b
    from c a join c x
      on a.bucket = x.bucket and a.event_type < x.event_type
    group by 1, 2
    order by type_a, type_b
"""


@register("event_type_ks_drift", _KS_ORACLE)
def event_type_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between every pair of
    event types' value distributions, computed from the 50-bin histogram
    CDFs — the third drift metric beside PSI (`order_status_psi_drift`)
    and KL (`doc_lang_kl_drift`), and the third consumer of the
    histogram sketch state. Exact given the binning (max over bin-edge
    CDF gaps), never touches raw pairs: the comparison runs over a
    |types|² × 50-row pre-aggregate, so two 100 TB distributions compare
    in constant space from their mergeable partials."""
    from flight_radar_pipeline_spark.operators.sketches import (
        hist_partials,
        merge_hist_partials,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    merged = merge_hist_partials(
        hist_partials(ev, "value", ["event_type"], _HQ_LO, _HQ_HI, _HQ_BINS),
        ["event_type"],
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(_HQ_BINS).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    dense = spine.join(merged, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("bin_count", F.lit(0)).alias("bin_count")
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("event_type")
    c = dense.select(
        "event_type",
        "bucket",
        (
            F.sum("bin_count").over(cum_w)
            / F.sum("bin_count").over(tot_w).cast("double")
        ).alias("cdf"),
        F.sum("bin_count").over(tot_w).alias("n"),
    )
    a = c.select(
        F.col("event_type").alias("type_a"),
        "bucket",
        F.col("cdf").alias("cdf_a"),
        F.col("n").alias("na"),
    )
    x = c.select(
        F.col("event_type").alias("type_b"),
        "bucket",
        F.col("cdf").alias("cdf_b"),
        F.col("n").alias("nb"),
    )
    return (
        a.join(x, "bucket")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.round(F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))), 6).alias(
                "ks_stat"
            ),
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# differentially-private count release (seeded Laplace, auditable)
# --------------------------------------------------------------------------

_DP_EPS = 1.0

_DP_ORACLE = f"""
    with g as (
        select c_nationkey as nationkey, cast(count(*) as bigint) as n
        from customer group by 1
    ), u as (
        select nationkey, n,
               ((('0x' || substr(md5('dp-' || nationkey::varchar), 1, 6))::bigint
                 + 0.5) / 16777216.0) as uv
        from g
    )
    select nationkey, n,
           round(n + (-1.0 / {_DP_EPS})
                     * sign(uv - 0.5) * ln(1.0 - 2.0 * abs(uv - 0.5)), 4)
               as dp_n
    from u
    order by nationkey
"""


@register("nation_dp_customer_counts", _DP_ORACLE)
def nation_dp_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-nation customer counts
    plus Laplace(1/ε) noise, ε={eps} — the release mechanism itself,
    completing the governance family (k-anonymity flags risk, erasure
    audits deletion, this publishes safely). Noise is drawn by inverse
    CDF from the md5-derived uniform (`operators.corpus_prep.unit_hash`
    scheme), so the release is partition-invariant, rerun-stable, and
    auditable cross-engine — the determinism is per-release-key seeding,
    exactly how a production DP pipeline makes releases reproducible.
    One groupBy; the noise is row-local arithmetic on the aggregate."""
    from flight_radar_pipeline_spark.operators.corpus_prep import unit_hash

    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    u = unit_hash(F.col("nationkey"), "dp")
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "nationkey", "n", F.round(F.col("n") + noise, 4).alias("dp_n")
    ).orderBy("nationkey")


nation_dp_customer_counts.__doc__ = nation_dp_customer_counts.__doc__.format(
    eps=_DP_EPS
)


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals for the per-type mean
# --------------------------------------------------------------------------

_BOOT_B = 32
# cumulative Poisson(1) probabilities (k = 0..7; 8 absorbs the tail) for
# the inverse-CDF draw — identical literals on both engines
_POIS_CUM = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253,
]
# manual percentile interpolation over the B sorted replicate means:
# h = (B-1)p + 1 → (1-indexed floor, fraction)
_BOOT_LO1, _BOOT_F1 = 1, (_BOOT_B - 1) * 0.025 + 1 - 1   # p = 0.025
_BOOT_LO2, _BOOT_F2 = 31, (_BOOT_B - 1) * 0.975 + 1 - 31  # p = 0.975


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"when {u} < {c} then {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"(case {branches} else 8 end)"


_BOOT_ORACLE = f"""
    with reps as (
        select e.event_type, e.value, b.b,
               {_pois_case_sql(
                   "((('0x' || substr(md5('boot-' || e.event_id::varchar"
                   " || '-' || b.b::varchar), 1, 6))::bigint + 0.5)"
                   " / 16777216.0)")} as w
        from events e
        cross join (select unnest(range(0, {_BOOT_B})) as b) b
    ), means as (
        select event_type, b,
               sum(w * value) / sum(w)::double as m
        from reps group by 1, 2
    ), arr as (
        select event_type, list_sort(list(m)) as ms
        from means group by event_type
    ), obs as (
        select event_type, avg(value) as mean_obs,
               cast(count(*) as bigint) as n
        from events group by event_type
    )
    select o.event_type, round(o.mean_obs, 6) as mean_obs, o.n,
           round(ms[{_BOOT_LO1}]
                 + {_BOOT_F1} * (ms[{_BOOT_LO1 + 1}] - ms[{_BOOT_LO1}]), 6)
               as ci_lo,
           round(ms[{_BOOT_LO2}]
                 + {_BOOT_F2} * (ms[{_BOOT_LO2 + 1}] - ms[{_BOOT_LO2}]), 6)
               as ci_hi
    from obs o join arr using (event_type)
    order by event_type
"""


@register("event_value_bootstrap_ci", _BOOT_ORACLE)
def event_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% CI for each type's mean value by POISSON bootstrap — the
    resampling scheme that actually works distributed: instead of B
    materialized resamples, every row carries B independent Poisson(1)
    weights (multinomial → Poisson approximation), drawn by inverse CDF
    from the md5 uniform so both engines see the SAME resample. One
    row-local ×B explode, one (type, b) aggregate, then the percentile
    interpolation runs on a B-element array per type — no resample ever
    exists as data, which is why this shape survives 100 TB where
    naive bootstrap (B full copies) cannot. Replicate means use the
    standard weighted form; CI bounds interpolate the sorted replicate
    means at p=0.025/0.975 with the textbook (n-1)p rule, written
    identically in both engines."""
    from flight_radar_pipeline_spark.operators.corpus_prep import unit_hash

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    reps = ev.select(
        "event_type",
        "value",
        "event_id",
        F.explode(F.array(*[F.lit(b) for b in range(_BOOT_B)])).alias("b"),
    )
    u = unit_hash(
        F.concat(
            F.col("event_id").cast("string"), F.lit("-"), F.col("b").cast("string")
        ),
        "boot",
    )
    # hoist the md5 uniform into its own projection: a `when` chain does
    # NOT common-subexpression-eliminate its branch conditions, so the
    # inline form re-hashed every row once per tested branch (~2-3× on
    # the Poisson CDF, 8× worst case) — measured 4.4 → 2.3 s at sf0.1
    # (the when-chain face of the round-13 lambda-CSE house rule)
    reps = reps.withColumn("__u", u)
    w = F.lit(8)
    for k in range(len(_POIS_CUM) - 1, -1, -1):
        w = F.when(F.col("__u") < _POIS_CUM[k], F.lit(k)).otherwise(w)
    means = (
        reps.withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(
            (F.sum(F.col("w") * F.col("value")) / F.sum("w").cast("double")).alias(
                "m"
            )
        )
    )
    arr = means.groupBy("event_type").agg(
        F.sort_array(F.collect_list("m")).alias("ms")
    )
    obs = ev.groupBy("event_type").agg(
        F.avg("value").alias("mean_obs"), F.count(F.lit(1)).cast("bigint").alias("n")
    )

    def interp(lo: int, frac: float):
        return F.element_at("ms", lo) + F.lit(frac) * (
            F.element_at("ms", lo + 1) - F.element_at("ms", lo)
        )

    return (
        obs.join(arr, "event_type")
        .select(
            "event_type",
            F.round("mean_obs", 6).alias("mean_obs"),
            "n",
            F.round(interp(_BOOT_LO1, _BOOT_F1), 6).alias("ci_lo"),
            F.round(interp(_BOOT_LO2, _BOOT_F2), 6).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# month-over-month revenue growth on a dense month spine
# --------------------------------------------------------------------------

_MOM_GROWTH_ORACLE = """
    with bounds as (
        select date_trunc('month', min(o_orderdate)) as lo,
               date_trunc('month', max(o_orderdate)) as hi
        from orders
    ), months as (
        select unnest(generate_series(lo, hi, interval 1 month)) as month
        from bounds
    ), rev as (
        select n_name as nation, date_trunc('month', o_orderdate) as month,
               sum(floor(o_totalprice * 100)::bigint) as cents
        from orders
        join customer on o_custkey = c_custkey
        join nation on c_nationkey = n_nationkey
        group by 1, 2
    ), spine as (
        select n.n_name as nation, m.month from nation n cross join months m
    ), dense as (
        select s.nation, s.month, coalesce(r.cents, 0) as cents
        from spine s left join rev r
          on s.nation = r.nation and s.month = r.month
    ), g as (
        select nation, month, cents,
               lag(cents) over (partition by nation order by month) as prev
        from dense
    )
    select nation, strftime(month, '%Y-%m') as month,
           round(cents / 100.0, 2) as revenue,
           round((cents - prev) / nullif(prev, 0)::double, 6) as mom_growth
    from g
    order by nation, month
"""


@register("nation_month_revenue_growth", _MOM_GROWTH_ORACLE)
def nation_month_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation on a GAP-FILLED month
    spine — missing months count as 0 instead of silently comparing
    against the last active month (the resample discipline of
    `hourly_timeline_dense` applied to the period-over-period report).
    Revenue sums in integer cents so the growth ratio is exact; a zero
    prior month yields NULL growth, not infinity. The lag window runs
    over the |nations|×|months| pre-aggregate, never the fact table."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    months = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("month")
    )
    spine = nat.select(F.col("n_name").alias("nation")).crossJoin(
        F.broadcast(months)
    )
    dense = spine.join(rev, ["nation", "month"], "left").select(
        "nation", "month", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    w = Window.partitionBy("nation").orderBy("month")
    g = dense.withColumn("prev", F.lag("cents").over(w))
    return g.select(
        "nation",
        F.date_format("month", "yyyy-MM").alias("month"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(
            (F.col("cents") - F.col("prev"))
            / F.nullif(F.col("prev"), F.lit(0)).cast("double"),
            6,
        ).alias("mom_growth"),
    ).orderBy("nation", "month")


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# --------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-22 00:00:00"

_CUPED_ORACLE = f"""
    with u as (
        select user_id,
               avg(value) filter (ts <  timestamp '{_CUPED_SPLIT}') as x,
               avg(value) filter (ts >= timestamp '{_CUPED_SPLIT}') as y
        from events group by user_id
    ), both_sides as (
        select * from u where x is not null and y is not null
    ), stats as (
        select covar_samp(x, y) / var_samp(x) as theta, avg(x) as xbar
        from both_sides
    ), adj as (
        select case when user_id % 2 = 0 then 'A' else 'B' end as arm,
               y, y - theta * (x - xbar) as y_adj
        from both_sides cross join stats
    )
    select arm, cast(count(*) as bigint) as n_users,
           round(avg(y), 4) as mean_post,
           round(avg(y_adj), 4) as mean_cuped,
           round(var_samp(y), 4) as var_post,
           round(var_samp(y_adj), 4) as var_cuped
    from adj group by arm order by arm
"""


@register("ab_cuped_event_value", _CUPED_ORACLE)
def ab_cuped_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: each user's
    post-period mean is adjusted by theta times their pre-period
    deviation (theta = cov(x,y)/var(x) over users seen in both periods),
    shrinking metric variance without moving the treatment-effect
    estimand — the technique every experimentation platform layers on
    `ab_test_event_value`. Plan: one user-level aggregate (the only
    fact shuffle), a 1-row theta/xbar broadcast, then the |arms|-row
    readout; adjusted and raw variances ship side by side so the
    reduction is visible in the output."""
    ev = load_table(spark, sf_dir, "events")
    pre = F.col("ts") < _CUPED_SPLIT
    u = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(pre, F.col("value"))).alias("x"),
            F.avg(F.when(~pre, F.col("value"))).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    stats = u.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("theta"),
        F.avg("x").alias("xbar"),
    )
    adj = u.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))).alias("y_adj"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("y"), 4).alias("mean_post"),
            F.round(F.avg("y_adj"), 4).alias("mean_cuped"),
            F.round(F.var_samp("y"), 4).alias("var_post"),
            F.round(F.var_samp("y_adj"), 4).alias("var_cuped"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# cohort cumulative LTV (monetary companion to weekly_cohort_retention)
# --------------------------------------------------------------------------

_LTV_ORACLE = """
    with f as (
        select o_custkey, min(date_trunc('month', o_orderdate)) as cohort
        from orders group by 1
    ), sizes as (
        select cohort, cast(count(*) as bigint) as cohort_users
        from f group by cohort
    ), mx as (
        select date_trunc('month', max(o_orderdate)) as m from orders
    ), spine as (
        select s.cohort, s.cohort_users, unnest(range(0,
                   datediff('month', s.cohort, mx.m) + 1))::int as age
        from sizes s cross join mx
    ), rev as (
        select f.cohort,
               datediff('month', f.cohort,
                        date_trunc('month', o.o_orderdate))::int as age,
               sum(floor(o.o_totalprice * 100)::bigint) as cents
        from orders o join f on o.o_custkey = f.o_custkey
        group by 1, 2
    ), dense as (
        select s.cohort, s.cohort_users, s.age, coalesce(r.cents, 0) as cents
        from spine s left join rev r
          on s.cohort = r.cohort and s.age = r.age
    )
    select strftime(cohort, '%Y-%m') as cohort, age, cohort_users,
           (sum(cents) over (
                partition by cohort order by age
            ) // cohort_users)::bigint as cum_ltv_cents_per_user
    from dense
    order by cohort, age
"""


@register("cohort_cumulative_ltv", _LTV_ORACLE)
def cohort_cumulative_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per user by acquisition cohort: each
    customer joins the month of their first order; revenue lands at the
    cohort's month-age and accumulates — the monetary companion to
    `weekly_cohort_retention` (which counts activity) and the curve a
    payback-period decision reads. Ages are gap-filled so a quiet month
    holds the running value flat instead of vanishing from the curve.
    Integer-cents sums and an integer per-user division keep the curve
    exact (a double division rounds on midpoints differently across
    engines); the running-sum window covers the |cohorts|×|ages|
    pre-aggregate, never the order fact."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    f = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sizes = f.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    mx = orders.agg(F.date_trunc("month", F.max("o_orderdate")).alias("m"))
    spine = (
        sizes.crossJoin(F.broadcast(mx))
        .select(
            "cohort",
            "cohort_users",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.months_between(F.col("m"), F.col("cohort")).cast("int"),
                )
            ).alias("age"),
        )
    )
    rev = (
        orders.join(f, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            )
            .cast("int")
            .alias("age"),
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    dense = spine.join(rev, ["cohort", "age"], "left").select(
        "cohort", "cohort_users", "age", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        "age",
        "cohort_users",
        F.expr("sum(cents) over (partition by cohort order by age"
               " rows between unbounded preceding and current row)"
               " div cohort_users").alias("cum_ltv_cents_per_user"),
    ).orderBy("cohort", "age")


# --------------------------------------------------------------------------
# streaming-maintained histogram partials (oracle shared with the batch
# quantile entry — maintained state must answer identically)
# --------------------------------------------------------------------------


@register("event_hist_stream_quantiles", _HQ_ORACLE)
def event_hist_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance for the histogram sketch — the last sketch
    family to get its streaming face (KMV: `user_kmv_stream_partials`;
    moments: `event_drift_stream_moments`): events arrive in 3
    microbatches and ``foreachBatch`` APPENDS each batch's per
    (type, day) bin counts to a partial table — histogram merge is pure
    addition, so maintenance is append-only and never recomputes. After
    the stream drains, `merge_hist_partials` + `hist_quantiles` run over
    the MAINTAINED state and must equal the batch entry bit-for-bit —
    the oracle is shared verbatim with `event_value_hist_quantiles`.
    With four batch consumers of this state (quantiles, CDF-normalize,
    KS drift, and now the stream), the sketch is a maintained asset, not
    a per-query intermediate."""
    import os

    from flight_radar_pipeline_spark.operators.sketches import (
        hist_partials,
        hist_quantiles,
        merge_hist_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    work = scratch_dir("hist_stream_")
    stream = wave_stream(
        spark, work, [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    )
    state_dir = os.path.join(work, "state")

    def fold(batch: DataFrame, bid: int) -> None:
        p = hist_partials(
            batch.select("event_type", F.to_date("ts").alias("day"), "value"),
            "value",
            ["event_type", "day"],
            _HQ_LO,
            _HQ_HI,
            _HQ_BINS,
        ).withColumn("b", F.lit(int(bid)))
        p.write.mode("append").parquet(state_dir)

    run_microbatches(stream, fold, work)

    maintained = spark.read.parquet(state_dir).select(
        "event_type", "bucket", "bin_count"
    )
    merged = merge_hist_partials(maintained, ["event_type"])
    return (
        hist_quantiles(
            merged, ["event_type"], _HQ_PROBS, _HQ_LO, _HQ_HI, _HQ_BINS
        )
        .select(
            "event_type", "p", F.round("quantile", 6).alias("quantile"), "n"
        )
        .orderBy("event_type", "p")
    )
