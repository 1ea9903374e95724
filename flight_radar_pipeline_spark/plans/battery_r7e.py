"""Round-7e battery additions: ranking-quality evaluation of the ANN
index (nDCG@10 of the sign-LSH list against exact-cosine gains — the
metric that grades ORDER, where the recall ladder only grades set
membership) and market-concentration indices (HHI + CR4 per nation over
supplier revenue shares, the concentration companion to the Gini
entry).

Each entry pairs the Spark plan with a DuckDB oracle that restates the
semantics independently. Registered into the shared REGISTRY on import
(see __spark_entry__).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flight_radar_pipeline_spark.operators import similarity as S
from flight_radar_pipeline_spark.plans.battery import register
from flight_radar_pipeline_spark.plans.battery_text import EMB_DIMS, _nibble_case
from flight_radar_pipeline_spark.sources.readers import load_table
from flight_radar_pipeline_spark.streaming.ledger import (
    run_microbatches,
    scratch_dir,
    wave_stream,
)

# --------------------------------------------------------------------------
# nDCG@10 of the sign-LSH ANN ranking vs exact-cosine gains
# --------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_PLANES = 6
_NDCG_QUERIES = 8


def _ndcg_oracle() -> str:
    """Restates the deterministic sign-LSH pipeline (the
    `embedding_topk_lsh` oracle's plane construction, shared via
    `_nibble_case`) and the exact top-k, then folds both ranked lists
    into DCG / IDCG with non-negative gains."""
    return f"""
    with comps as (
        select vec_id,
               unnest(embedding::DOUBLE[]) as x,
               unnest(range(0, len(embedding))) as dim
        from embeddings
    ), planes as (
        select plane, dim,
               {_nibble_case("substr(md5(plane::varchar || '-' || dim::varchar), 1, 1)")}::double - 7.5 as comp
        from (select unnest(range(0, {_NDCG_PLANES})) as plane)
        cross join (select unnest(range(0, {EMB_DIMS})) as dim)
    ), dots as (
        select c.vec_id, p.plane, sum(c.x * p.comp) as dot
        from comps c join planes p on c.dim = p.dim
        group by c.vec_id, p.plane
    ), sig as (
        select vec_id,
               string_agg(case when dot > 0 then '1' else '0' end,
                          '' order by plane) as signature
        from dots group by vec_id
    ), q as (
        select e.vec_id as query_id, e.embedding::DOUBLE[] as qv,
               s.signature
        from embeddings e join sig s using (vec_id)
        where e.vec_id < {_NDCG_QUERIES}
    ), c as (
        select e.vec_id as neighbor_id, e.embedding::DOUBLE[] as cv,
               s.signature
        from embeddings e join sig s using (vec_id)
    ), lsh as (
        select query_id, neighbor_id,
               round(list_cosine_similarity(qv, cv), 6) as cosine,
               row_number() over (
                   partition by query_id
                   order by round(list_cosine_similarity(qv, cv), 6) desc,
                            neighbor_id
               ) as rn
        from q join c using (signature)
        where query_id != neighbor_id
    ), qall as (
        select vec_id as query_id, embedding::DOUBLE[] as qv
        from embeddings where vec_id < {_NDCG_QUERIES}
    ), call as (
        select vec_id as neighbor_id, embedding::DOUBLE[] as cv
        from embeddings
    ), exact as (
        select query_id,
               round(list_cosine_similarity(qv, cv), 6) as cosine,
               row_number() over (
                   partition by query_id
                   order by round(list_cosine_similarity(qv, cv), 6) desc,
                            neighbor_id
               ) as rn
        from qall cross join call
        where query_id != neighbor_id
    ), dcg as (
        select query_id, cast(count(*) as bigint) as n_retrieved,
               round(sum(greatest(cosine, 0)
                         / (ln(rn + 1) / ln(2))), 6) as dcg
        from lsh where rn <= {_NDCG_K} group by query_id
    ), idcg as (
        select query_id,
               round(sum(greatest(cosine, 0)
                         / (ln(rn + 1) / ln(2))), 6) as idcg
        from exact where rn <= {_NDCG_K} group by query_id
    )
    select d.query_id, d.n_retrieved, d.dcg, i.idcg,
           round(d.dcg / i.idcg, 4) as ndcg
    from dcg d join idcg i using (query_id)
    order by query_id
"""


@register("embedding_ann_ndcg", _ndcg_oracle())
def embedding_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{_NDCG_K} of the sign-LSH ANN list against exact-cosine
    gains → (query_id, n_retrieved, dcg, idcg, ndcg): the ranked lists
    from `topk_neighbors_lsh` and the brute-force exact top-k fold into
    DCG = Σ gain_i / log₂(i+1) (gains clamped at 0 — negative cosines
    carry no utility), normalized by the ideal list's DCG. The metric
    that grades ORDER quality — `tests/test_recall.py` pins set recall,
    this entry pins position-discounted gain, the retrieval-facing
    number an ANN index is actually deployed on. n_retrieved < k shows
    bucket starvation directly.

    Scale: both lists are the battery's existing ANN shapes (bucket
    equi-join / broadcast-query scan + window top-k); the nDCG fold is
    arithmetic over ≤ 2·k·|queries| rows. Gains round to 6 before the
    discounted sums, which round to 6 before the final ratio."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _NDCG_QUERIES)
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    disc = F.log(F.col("rn") + 1) / F.log(F.lit(2.0))
    gain = F.greatest(F.col("cosine"), F.lit(0.0))
    lsh = (
        S.topk_neighbors_lsh(
            emb, queries, k=_NDCG_K, num_planes=_NDCG_PLANES, n_dims=EMB_DIMS
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _NDCG_K)
    )
    dcg = lsh.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
        F.round(F.sum(gain / disc), 6).alias("dcg"),
    )
    exact = (
        S.topk_neighbors_bruteforce(emb, queries, k=_NDCG_K)
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _NDCG_K)
    )
    idcg = exact.groupBy("query_id").agg(
        F.round(F.sum(gain / disc), 6).alias("idcg")
    )
    return (
        dcg.join(idcg, "query_id")
        .select(
            "query_id",
            "n_retrieved",
            "dcg",
            "idcg",
            F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Market concentration: HHI + CR4 per nation over supplier revenue
# --------------------------------------------------------------------------

_HHI_ORACLE = """
    with rev as (
        select s.s_nationkey as nationkey, l.l_suppkey as suppkey,
               sum(l.l_extendedprice::decimal(19,4)
                   * (1 - l.l_discount::decimal(19,4))) as r
        from lineitem l join supplier s on l.l_suppkey = s.s_suppkey
        group by 1, 2
    ), shares as (
        select nationkey, suppkey,
               r::double / (sum(r) over (partition by nationkey)::double)
                   as share,
               row_number() over (partition by nationkey
                                  order by r desc, suppkey) as rk
        from rev
    )
    select n.n_name as nation,
           cast(count(*) as bigint) as n_suppliers,
           round(sum(share * share), 6) as hhi,
           round(sum(case when rk <= 4 then share else 0 end), 6)
               as cr4_share
    from shares sh join nation n on n.n_nationkey = sh.nationkey
    group by n.n_name
    order by nation
"""


@register("nation_supplier_concentration", _HHI_ORACLE)
def nation_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Market concentration per nation → (nation, n_suppliers, hhi,
    cr4_share): Herfindahl–Hirschman index (Σ share²) and 4-firm
    concentration ratio over supplier revenue shares — the
    concentration indices beside the battery's Gini: HHI weighs the
    whole distribution, CR4 the head, and the (HHI, CR4) pair
    distinguishes 'one dominant firm' from 'four equal oligopolists'.

    Parity: per-supplier revenue is an exact decimal sum (operands
    widened to decimal(19,4) so the oracle engine takes its hugeint
    multiply path); shares are single double divisions of identical
    exact values, and the rank that defines CR4 orders on the exact
    decimal. Scale: one fact aggregate to (nation, supplier) grain —
    everything after runs on |suppliers| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(19,4)")
            * (1 - F.col("l_discount").cast("decimal(19,4)"))
        ).alias("rv"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.sum("rv").alias("r"))
    )
    w_n = Window.partitionBy("nationkey")
    w_rk = Window.partitionBy("nationkey").orderBy(
        F.desc("r"), F.asc("suppkey")
    )
    shares = rev.select(
        "nationkey",
        (
            F.col("r").cast("double") / F.sum("r").over(w_n).cast("double")
        ).alias("share"),
        F.row_number().over(w_rk).alias("rk"),
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        shares.join(
            F.broadcast(nation),
            shares["nationkey"] == nation["n_nationkey"],
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
            F.round(
                F.sum(F.when(F.col("rk") <= 4, F.col("share")).otherwise(0.0)),
                6,
            ).alias("cr4_share"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# streaming growth-accounting ledger (≡ batch user_growth_accounting)
# --------------------------------------------------------------------------

from flight_radar_pipeline_spark.plans.battery_r7c import _GROWTH_ORACLE


@register("user_growth_stream_ledger", _GROWTH_ORACLE)
def user_growth_stream_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming growth accounting — the stream twin of
    `user_growth_accounting`: events arrive in 3 CHRONOLOGICAL
    microbatches (contiguous day ranges staged as files whose mtimes
    pin the trigger order) and ``foreachBatch`` maintains (a) a
    per-user ``last_day`` state table and (b) an append-only daily
    ledger of new/retained/resurrected counts. Classification joins
    each batch's distinct (user, day) grain against the batch-local lag
    window COALESCED with the carried state, so a user's continuity
    survives batch boundaries with ONE date of state per user — the
    bounded-state shape that runs forever at 100 TB (the alternative,
    keeping active-day sets, grows without bound). Day ranges align to
    batch boundaries, so each ledger day is written exactly once;
    churn (yesterday's actives − today's retained) is derived at read
    time over the |days| ledger. The final ledger must equal the batch
    entry — the oracle is shared verbatim."""
    import os
    from datetime import timedelta

    ev = load_table(spark, sf_dir, "events")
    lohi = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    ).collect()[0]
    total = (lohi.hi - lohi.lo).days + 1
    cut1 = lohi.lo + timedelta(days=max(total // 3, 1))
    cut2 = lohi.lo + timedelta(days=max(2 * total // 3, 2))

    work = scratch_dir("growth_stream_")
    waves = [
        ev.filter(F.to_date("ts") < F.lit(cut1)),
        ev.filter(
            (F.to_date("ts") >= F.lit(cut1)) & (F.to_date("ts") < F.lit(cut2))
        ),
        ev.filter(F.to_date("ts") >= F.lit(cut2)),
    ]
    # one wave-tagged write job (parallel scan, one file per wave, pinned
    # ascending mtimes) — the shared ledger staging; the fold below is
    # keyed (distinct + per-user windows), so within-file row order is
    # immaterial
    stream = wave_stream(spark, work, waves)

    state_versions: list[str | None] = [None]
    ledger_dirs: list[str] = []

    def fold(batch: DataFrame, _bid: int) -> None:
        ua = batch.select(
            "user_id", F.to_date("ts").alias("day")
        ).distinct()
        w_u = Window.partitionBy("user_id").orderBy("day")
        ua = ua.withColumn("prev_in_batch", F.lag("day").over(w_u))
        if state_versions[-1] is not None:
            st = spark.read.parquet(state_versions[-1])
            ua = ua.join(st, "user_id", "left")
        else:
            ua = ua.withColumn("last_day", F.lit(None).cast("date"))
        ua = ua.withColumn(
            "prev_day", F.coalesce("prev_in_batch", "last_day")
        )
        inc = ua.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("prev_day").isNull(), 1).otherwise(0)).alias(
                "n_new"
            ),
            F.sum(
                F.when(
                    F.col("prev_day") == F.date_sub("day", 1), 1
                ).otherwise(0)
            ).alias("n_retained"),
            F.sum(
                F.when(
                    F.col("prev_day").isNotNull()
                    & (F.col("prev_day") < F.date_sub("day", 1)),
                    1,
                ).otherwise(0)
            ).alias("n_resurrected"),
        )
        ldir = os.path.join(work, f"ledger_b{len(ledger_dirs)}")
        inc.write.mode("overwrite").parquet(ldir)
        ledger_dirs.append(ldir)
        new_state = ua.groupBy("user_id").agg(F.max("day").alias("last_day"))
        if state_versions[-1] is not None:
            old = spark.read.parquet(state_versions[-1])
            new_state = (
                old.unionByName(new_state)
                .groupBy("user_id")
                .agg(F.max("last_day").alias("last_day"))
            )
        nxt = os.path.join(work, f"state_v{len(state_versions)}")
        new_state.write.mode("overwrite").parquet(nxt)
        state_versions.append(nxt)

    run_microbatches(stream, fold, work)

    ledger = spark.read.parquet(*ledger_dirs)
    w_d = Window.partitionBy().orderBy("day")
    return ledger.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_new").cast("bigint").alias("n_new"),
        F.col("n_retained").cast("bigint").alias("n_retained"),
        F.col("n_resurrected").cast("bigint").alias("n_resurrected"),
        (
            F.coalesce(F.lag("n_active").over(w_d), F.lit(0))
            - F.col("n_retained")
        )
        .cast("bigint")
        .alias("n_churned"),
    ).orderBy("day")
