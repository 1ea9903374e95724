"""Lakehouse-operations battery: snapshot diff (CDC between table
versions), bloom-style semi-join reduction, leakage-safe corpus splits,
and a streaming foreachBatch upsert sink.

The reference pipeline rewrites whole snapshots every run
(``/root/reference/src/main.py:105-152``); these entries are the
incremental-lakehouse counterparts a 100 TB deployment needs. Same
contract as every battery module: each Spark plan is paired with a DuckDB
oracle stating the identical deterministic computation; doubles that
enter fingerprints or sums are pinned to integer cents first so
cross-engine float formatting can never leak into a hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flight_radar_pipeline_spark.functions import text as T
from flight_radar_pipeline_spark.operators.cdc import (
    row_fingerprint,
    snapshot_changes,
)
from flight_radar_pipeline_spark.plans.battery import register
from flight_radar_pipeline_spark.sources.readers import load_table, normalize_event_ts
from flight_radar_pipeline_spark.streaming.ledger import (
    link_stream,
    run_microbatches,
    scratch_dir,
    wave_stream,
)

# --------------------------------------------------------------------------
# snapshot diff (CDC between two table versions)
# --------------------------------------------------------------------------

# Two synthetic versions of the orders table, derived deterministically so
# the diff has all three change classes: version A drops every 13th key
# (those become 'added' in B), version B drops every 17th key ('removed')
# and bumps every 10th price ('changed').

_DIFF_FP = (
    "md5(o_orderkey || '|' || cast(round({p} * 100) as bigint)"
    " || '|' || o_orderstatus || '|' || o_orderpriority)"
)

_SNAPSHOT_DIFF_ORACLE = f"""
    with a as (
        select o_orderkey, {_DIFF_FP.format(p="o_totalprice")} as fp
        from orders where o_orderkey % 13 != 0
    ), b0 as (
        select o_orderkey, o_orderstatus, o_orderpriority,
               case when o_orderkey % 10 = 0 then o_totalprice + 1000
                    else o_totalprice end as p
        from orders where o_orderkey % 17 != 0
    ), b as (
        select o_orderkey, {_DIFF_FP.format(p="p")} as fp from b0
    )
    select o_orderkey,
           case when a.o_orderkey is null then 'added'
                when b.o_orderkey is null then 'removed'
                else 'changed' end as change_type
    from a full outer join b using (o_orderkey)
    where a.o_orderkey is null or b.o_orderkey is null or a.fp != b.fp
    order by o_orderkey
"""


def _order_fingerprint() -> F.Column:
    """Order-row fingerprint over int-safe renderings: price pinned to
    bigint cents so double→string formatting can't diverge between
    engines (``operators.cdc.row_fingerprint`` contract)."""
    return row_fingerprint(
        [
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("bigint"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        ]
    )


@register("snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshots of a table → (key, change_type in
    added/removed/changed): the diff a lakehouse emits between versions,
    or an ingest job uses to turn full re-dumps into increments — see
    ``operators.cdc.snapshot_changes`` for the narrow-shuffle posture.
    """
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 13 != 0)
    new = orders.filter(F.col("o_orderkey") % 17 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1000
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_changes(
        old, new, "o_orderkey", _order_fingerprint()
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# bloom-style semi-join reduction
# --------------------------------------------------------------------------

_BLOOM_BITS = 4096  # 64 words x 64 bits
_BLOOM_WORDS = _BLOOM_BITS // 64

_BLOOM_SEMI_ORACLE = """
    select o_orderpriority,
           count(*) as n_orders,
           -- ::bigint: DuckDB's SUM(BIGINT) widens to HUGEINT (float64 in
           -- pandas); Spark's stays long
           sum(cast(round(o_totalprice * 100) as bigint))::bigint as cents
    from orders o
    where exists (
        select 1 from customer c
        where c.c_custkey = o.o_custkey and c.c_mktsegment = 'BUILDING'
    )
    group by o_orderpriority
    order by o_orderpriority
"""


@register("orders_bloom_semi_join", _BLOOM_SEMI_ORACLE)
def orders_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via a broadcast bit-set: the runtime-filter
    pattern, built explicitly. Build-side keys (BUILDING customers) fold
    into a 4096-bit bitmap — one row of 64 ORed words — which broadcasts
    to prefilter the fact scan BEFORE the exact left-semi join; the
    bitmap admits no false negatives, and the exact join removes its
    false positives, so the result (and the oracle) is the plain semi
    join. At 100 TB the prefilter is the point: non-matching fact rows
    drop at scan speed instead of crossing the join shuffle — what
    Spark's own ``runtime.bloomFilter`` rewrite does, here as an
    explicit, engine-portable operator (md5-derived positions, not a
    JVM-internal hash).
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    words = cust.select(
        T.hash_bucket(F.col("c_custkey"), _BLOOM_BITS).alias("__pos")
    ).select(
        (F.col("__pos") / 64).cast("int").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(__pos % 64 as int))").alias(
            "mask"
        ),
    )
    # all 64 word-ORs built as ONE parsed SQL array literal (round-13,
    # guide §1.3 construction fix) — identical expressions to the
    # previous per-word Column loop, ~8 py4j round-trips per word saved
    words_sql = ", ".join(
        f"bit_or(case when word = {w} then mask"
        f" else cast(0 as bigint) end)"
        for w in range(_BLOOM_WORDS)
    )
    bitmap = words.agg(F.expr(f"array({words_sql})").alias("__words"))
    orders = load_table(spark, sf_dir, "orders")
    probe = orders.withColumn(
        "__pos", T.hash_bucket(F.col("o_custkey"), _BLOOM_BITS)
    )
    prefiltered = (
        probe.join(F.broadcast(bitmap))
        .filter(
            F.expr(
                "(__words[cast(__pos / 64 as int)]"
                " & shiftleft(cast(1 as bigint), cast(__pos % 64 as int))) != 0"
            )
        )
        .drop("__words", "__pos")
    )
    return (
        prefiltered.join(
            cust.select("c_custkey"),
            prefiltered["o_custkey"] == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# leakage-safe train/val/test split
# --------------------------------------------------------------------------

_SPLIT_ORACLE = """
    select doc_id, lang,
           case when b <= 7 then 'train'
                when b = 8 then 'val'
                else 'test' end as split
    from (
        select doc_id, lang,
               ('0x' || substr(md5(lang), 1, 12))::bigint % 10 as b
        from documents
    )
    order by doc_id
"""


@register("doc_train_eval_split", _SPLIT_ORACLE)
def doc_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 corpus split: the split is assigned per
    GROUP (here ``lang``; in production the url host / source domain),
    not per row, so near-duplicate documents from one source can never
    straddle train and eval — the contamination a row-hash split invites.
    Pure column exprs over the scan (the md5 bucketing of
    ``hash_bucket``); no shuffle, reproducible on any engine or
    partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = T.hash_bucket(F.col("lang"), 10)
    return docs.select(
        "doc_id",
        "lang",
        F.when(b <= 7, F.lit("train"))
        .when(b == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# streaming foreachBatch upsert (SCD1 merge sink)
# --------------------------------------------------------------------------

# Identical final state to the batch orders_scd1_merge entry, so the
# oracle is the same updates-win merge stated in SQL.
_SCD1_STREAM_ORACLE = """
    with updates as (
        select o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000 as o_totalprice,
               o_orderdate, o_orderpriority
        from orders where o_orderkey % 10 = 0
    ), merged as (
        select * from updates
        union all
        select * from orders o
        where not exists (select 1 from updates u where u.o_orderkey = o.o_orderkey)
    )
    select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') as o_orderdate,
           o_orderpriority
    from merged order by o_orderkey
"""


@register("orders_scd1_stream_merge", _SCD1_STREAM_ORACLE)
def orders_scd1_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink: updates arrive as a file-source stream and
    ``foreachBatch`` merges each microbatch into a versioned parquet
    target (read latest version → SCD1 merge → write next version), the
    exactly-once upsert pattern for sinks without a MERGE primitive. The
    final table equals the batch merge, which is what the oracle states.

    Scale posture: per-batch work is one key-keyed merge of (target ∪
    microbatch); on a transactional format the same ``foreachBatch``
    body becomes MERGE INTO and rewrites only matched files. Versioned
    directories keep the read-your-own-writes loop safe (never
    overwriting the version being read) and give checkpoint-replayed
    batches an idempotent landing spot.
    """
    from flight_radar_pipeline_spark.pipeline import merge_snapshot

    orders = load_table(spark, sf_dir, "orders")
    work = scratch_dir("scd1_stream_")
    versions = [os.path.join(work, "v0")]
    orders.write.mode("overwrite").parquet(versions[0])

    upd_stream = (
        link_stream(spark, work, f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
    )

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(versions[-1])
        nxt = os.path.join(work, f"v{len(versions)}")
        merge_snapshot(cur, batch, ["o_orderkey"]).write.mode(
            "overwrite"
        ).parquet(nxt)
        versions.append(nxt)

    run_microbatches(upd_stream, merge_batch, work)

    final = spark.read.parquet(versions[-1])
    return final.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        "o_orderpriority",
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# referential-integrity audit (orphan foreign keys across the star schema)
# --------------------------------------------------------------------------

_RI_ORACLE = """
    with rels as (
        select 'orders.o_custkey->customer' as relation,
               (select count(*) from orders) as n_child,
               (select count(*) from orders o
                 where not exists (select 1 from customer c
                                    where c.c_custkey = o.o_custkey)) as n_orphan
        union all
        select 'lineitem.l_orderkey->orders',
               (select count(*) from lineitem),
               (select count(*) from lineitem l
                 where not exists (select 1 from orders o
                                    where o.o_orderkey = l.l_orderkey))
        union all
        select 'lineitem.l_partkey->part',
               (select count(*) from lineitem),
               (select count(*) from lineitem l
                 where not exists (select 1 from part p
                                    where p.p_partkey = l.l_partkey))
        union all
        select 'lineitem.l_suppkey->supplier',
               (select count(*) from lineitem),
               (select count(*) from lineitem l
                 where not exists (select 1 from supplier s
                                    where s.s_suppkey = l.l_suppkey))
        union all
        select 'nation.n_regionkey->region',
               (select count(*) from nation),
               (select count(*) from nation n
                 where not exists (select 1 from region r
                                    where r.r_regionkey = n.n_regionkey))
    )
    select relation, n_child, n_orphan,
           round(n_orphan / n_child, 6) as orphan_pct
    from rels order by relation
"""


@register("referential_integrity_audit", _RI_ORACLE)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table foreign-key audit — the constraint-validation pass a
    lakehouse runs after every load (Deequ-style "is referenced" checks):
    orphan counts for all five FK relations of the star schema in one
    result. Round-11 compression (verdict directive 4): each CHILD table
    is scanned exactly ONCE — lineitem's three FK relations share one
    pass (two broadcast left joins + the one co-partitioned orders join),
    and every relation's (n_child, n_orphan) pair is a conditional count
    in that pass's single aggregate, exploded back to one row per
    relation. The previous shape scanned each child twice per relation
    (count + anti-join) — eight scans and a crossJoin-of-aggregates per
    relation; this one does three scans total. Parent keys dedupe before
    the left joins so "unmatched" is exactly NOT EXISTS even under a
    (contract-violating) duplicate parent key; dims broadcast after the
    tiny distinct. Round-13 (guide §2.3, aggregate before you shuffle):
    the one NON-broadcast join (lineitem→orders) no longer shuffles the
    child at row grain — the child collapses to the FK's grain first
    (count per l_orderkey, carrying the broadcast relations' orphan
    counts as partial sums), so the only row-grain shuffle of the
    biggest table becomes a key-grain one (~4× fewer, far narrower rows
    on TPC-H; the same factor at 100 TB). n_orphan for the non-broadcast
    relation is Σ cnt over unmatched keys — exactly the row count the
    row-grain left join null-counted. At 100 TB: one pass over each
    child table, full map-side combine, no fact-grain exchange."""
    def audited(child, joins):
        """One scan of ``child``: left-join each broadcast (alias,
        parent_df, ck, pk) with deduped parent keys; if one join is
        non-broadcast, pre-aggregate the child to that FK's grain before
        it; then one aggregate emitting n_child plus per-relation orphan
        counts, exploded to rows."""
        c = load_table(spark, sf_dir, child)
        bcast_joins = [j for j in joins if j[4]]
        big_joins = [j for j in joins if not j[4]]
        assert len(big_joins) <= 1, "one non-broadcast relation per child"
        for _rel, parent, ck, pk, _b in bcast_joins:
            p = parent.select(pk).distinct()
            c = c.join(F.broadcast(p), c[ck] == p[pk], "left")
        if big_joins:
            _rel, parent, ck, pk, _b = big_joins[0]
            g = c.groupBy(ck).agg(
                F.count(F.lit(1)).alias("__cnt"),
                *[
                    F.count(F.when(F.col(bpk).isNull(), 1)).alias(
                        f"__o_{bpk}"
                    )
                    for _r, _p, _c, bpk, _ in bcast_joins
                ],
            )
            p = parent.select(pk).distinct()
            agg = g.join(p, g[ck] == p[pk], "left").agg(
                F.sum("__cnt").alias("n_child"),
                F.sum(
                    F.when(F.col(pk).isNull(), F.col("__cnt")).otherwise(
                        F.lit(0)
                    )
                ).alias(f"__o_{pk}"),
                *[
                    F.sum(f"__o_{bpk}").alias(f"__o_{bpk}")
                    for _r, _p, _c, bpk, _ in bcast_joins
                ],
            )
        else:
            agg = c.agg(
                F.count(F.lit(1)).alias("n_child"),
                *[
                    F.count(F.when(F.col(pk).isNull(), 1)).alias(
                        f"__o_{pk}"
                    )
                    for _rel, _p, _ck, pk, _b in joins
                ],
            )
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rel).alias("relation"),
                            F.col("n_child").alias("n_child"),
                            F.col(f"__o_{pk}").alias("n_orphan"),
                        )
                        for rel, _p, _ck, pk, _b in joins
                    ]
                )
            ).alias("r")
        ).select(
            "r.relation",
            "r.n_child",
            "r.n_orphan",
            F.round(F.col("r.n_orphan") / F.col("r.n_child"), 6).alias(
                "orphan_pct"
            ),
        )

    t = lambda n: load_table(spark, sf_dir, n)  # noqa: E731
    parts = [
        audited(
            "orders",
            [("orders.o_custkey->customer", t("customer"), "o_custkey",
              "c_custkey", True)],
        ),
        audited(
            "lineitem",
            [
                ("lineitem.l_orderkey->orders", t("orders"), "l_orderkey",
                 "o_orderkey", False),
                ("lineitem.l_partkey->part", t("part"), "l_partkey",
                 "p_partkey", True),
                ("lineitem.l_suppkey->supplier", t("supplier"), "l_suppkey",
                 "s_suppkey", True),
            ],
        ),
        audited(
            "nation",
            [("nation.n_regionkey->region", t("region"), "n_regionkey",
              "r_regionkey", True)],
        ),
    ]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out.orderBy("relation")


# --------------------------------------------------------------------------
# user-erasure (right-to-be-forgotten) purge audit
# --------------------------------------------------------------------------

_ERASE_DAYS = 1

_ERASE_ORACLE = f"""
    with mx as (select max(ts) as m from events),
    tomb as (
        select user_id
        from events, mx
        group by user_id, mx.m
        having max(ts) < mx.m - interval {_ERASE_DAYS} day
    )
    select 'events' as table_name,
           (select count(*) from events) as rows_total,
           (select count(*) from events e
             where exists (select 1 from tomb t where t.user_id = e.user_id))
               as rows_to_delete,
           (select count(*) from tomb) as n_users
    union all
    select 'orders',
           (select count(*) from orders),
           (select count(*) from orders o
             where exists (select 1 from tomb t where t.user_id = o.o_custkey)),
           (select count(*) from tomb)
    order by table_name
"""


@register("user_erasure_audit", _ERASE_ORACLE)
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten dry run: the tombstone set is every user
    inactive for 1+ day (last event older than max feed ts − 1d
    — the synthetic feed spans 30 days with near-daily user activity, so
    day-scale inactivity is the non-trivial churn boundary),
    and the audit reports how many rows a hard delete would purge from
    each fact table keyed by that user — the pre-flight report a GDPR
    erasure job publishes before rewriting files. The tombstone build is
    one groupBy at user cardinality; each table audit is ONE scan — a
    broadcast left join against the (distinct) tombstones marks
    membership, and a single aggregate emits total + to-delete counts
    together (round-10 compression: the first cut counted the semi-join
    and the table total as separate scans glued by crossJoins — 24
    exchanges for two numbers per table). Tombstones are always ≪ facts
    — at 100 TB they stay broadcast-sized or become a bloom semi-join
    exactly like ``orders_bloom_semi_join``."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    # two bounded driver actions (1-row max, 1-row count — the
    # set-cover/markov sanctioned class) replace the round-9 form's
    # mx/n_tomb crossJoin broadcasts: 6 BNLJ → 0
    m = ev.agg(F.max("ts").alias("m")).collect()[0].m
    tomb = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("__last"))
        .filter(
            F.col("__last")
            < F.lit(m) - F.expr(f"INTERVAL {_ERASE_DAYS} DAYS")
        )
        .select("user_id")
    )
    n_users = tomb.count()

    marked_tomb = tomb.withColumn("__hit", F.lit(1))

    def audit(df: DataFrame, key: str, label: str) -> DataFrame:
        # tomb is distinct on user_id, so the left join never fans out
        # and count(__hit) ≡ the semi-join count — one scan, one agg
        marked = df.join(
            F.broadcast(marked_tomb),
            df[key] == marked_tomb["user_id"],
            "left",
        )
        return marked.agg(
            F.count(F.lit(1)).alias("rows_total"),
            F.count("__hit").alias("rows_to_delete"),
        ).select(
            F.lit(label).alias("table_name"),
            "rows_total",
            "rows_to_delete",
            F.lit(n_users).cast("bigint").alias("n_users"),
        )

    return (
        audit(ev, "user_id", "events")
        .unionByName(audit(orders, "o_custkey", "orders"))
        .orderBy("table_name")
    )


# --------------------------------------------------------------------------
# incremental view maintenance of a join-aggregate view (signed deltas)
# --------------------------------------------------------------------------

# upsert batch: every 10th order arrives re-stated with a bumped price —
# maintenance must RETRACT the old contribution and add the new one.

_IVM_ORACLE = """
    with upserted as (
        select o_custkey,
               case when o_orderkey % 10 = 0 then o_totalprice + 1000
                    else o_totalprice end as p
        from orders
    )
    select n.n_name as nation,
           round(sum(u.p), 2) as revenue,
           count(*) as n_orders
    from upserted u
    join customer c on c.c_custkey = u.o_custkey
    join nation n on n.n_nationkey = c.c_nationkey
    group by n.n_name
    order by nation
"""


@register("nation_revenue_view_ivm", _IVM_ORACLE)
def nation_revenue_view_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join-aggregate materialized view
    (revenue per nation over orders ⋈ customer ⋈ nation) under an UPSERT
    batch, via signed deltas: the maintained view is
    V ⊎ agg(Δ_new) ⊎ (−1)·agg(old rows at Δ's keys) — the textbook IVM
    retraction trick, so the 100 TB base table is touched only at the
    delta keys' partial aggregates and the view merge is
    |nations|-sized. Here the base view and both signed deltas compute
    from the same scan lineage (no stored view in the sandbox), but the
    maintenance algebra — union of +/− signed partials, one final merge
    aggregate — is exactly the production shape, and the oracle proves
    it equals the full recompute over the upserted table."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )

    def enriched(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(cust), df["o_custkey"] == cust["c_custkey"])
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == nation["n_nationkey"],
            )
        )

    is_delta = F.col("o_orderkey") % 10 == 0
    # base view partials: ALL current rows, weight +1
    base = enriched(orders).select(
        "nation", F.col("o_totalprice").alias("p"), F.lit(1).alias("w")
    )
    # retraction partials: old versions at the upsert keys, weight −1
    retract = enriched(orders.filter(is_delta)).select(
        "nation", F.col("o_totalprice").alias("p"), F.lit(-1).alias("w")
    )
    # insertion partials: re-stated rows, weight +1
    insert = enriched(
        orders.filter(is_delta).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000
        )
    ).select("nation", F.col("o_totalprice").alias("p"), F.lit(1).alias("w"))
    return (
        base.unionByName(retract)
        .unionByName(insert)
        .groupBy("nation")
        .agg(
            F.round(F.sum(F.col("p") * F.col("w")), 2).alias("revenue"),
            F.sum("w").cast("bigint").alias("n_orders"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# streaming incremental rollup maintenance (foreachBatch + merge_rollup)
# --------------------------------------------------------------------------

_ROLLUP_STREAM_ORACLE = """
    select strftime(date_trunc('day', ts), '%Y-%m-%d') as day,
           event_type,
           count(*) as n_events,
           cast(round(sum(round(value * 100))) as bigint) as value_cents
    from events
    group by 1, 2
    order by day, event_type
"""


@register("daily_rollup_stream_merge", _ROLLUP_STREAM_ORACLE)
def daily_rollup_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregate-table maintenance: each microbatch aggregates
    to (day, type) partials and ``foreachBatch`` merges them into a
    versioned rollup table via ``merge_rollup`` — the streaming face of
    ``incremental_daily_rollup``, and the foreachBatch sibling of the
    windowed-agg entries: instead of the state store holding windows,
    the DURABLE TABLE is the state, so the rollup survives restarts and
    is queryable mid-stream. Versions are keyed by batch_id and sealed
    with a _DONE marker (``idempotent_rollup_merge``), so a
    crash-replayed microbatch is skipped instead of double-merged —
    additive partials are not naturally idempotent, and
    ``tests/test_stream_restart.py`` proves both the replay guard and a
    real checkpoint restart. Values are pinned to integer cents before
    summing (mergeable partials must be exact across arbitrary batch
    splits). The final table equals the one-shot batch rollup, which
    the oracle states."""
    from flight_radar_pipeline_spark.streaming.events import idempotent_rollup_merge

    work = scratch_dir("rollup_stream_")
    feed = normalize_event_ts(
        link_stream(spark, work, f"{sf_dir}/events.parquet")
    )

    def delta_agg(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100)).cast("bigint").alias(
                "value_cents"
            ),
        )

    merge_batch, read_final = idempotent_rollup_merge(
        spark,
        os.path.join(work, "rollup"),
        ["day", "event_type"],
        ["n_events", "value_cents"],
        delta_agg,
    )

    run_microbatches(feed, merge_batch, work)

    return (
        read_final(spark)
        .select(
            "day",
            "event_type",
            "n_events",
            F.col("value_cents").cast("bigint").alias("value_cents"),
        )
        .orderBy("day", "event_type")
    )


# --------------------------------------------------------------------------
# commutative table checksum (replication / migration audit)
# --------------------------------------------------------------------------

_CKSUM_BUCKETS = 32

_CKSUM_ORACLE = f"""
    with h as (
        select o_orderkey % {_CKSUM_BUCKETS} as bucket,
               ('0x' || substr(md5(
                   o_orderkey || '|' || o_custkey || '|' || o_orderstatus
                   || '|' || cast(round(o_totalprice * 100) as bigint)
                   || '|' || o_orderpriority), 1, 15))::bigint as rh
        from orders
    )
    select bucket, count(*) as n_rows,
           cast(sum(rh) % 4611686018427387904 as bigint) as checksum
    from h group by bucket order by bucket
"""


@register("orders_table_checksum", _CKSUM_ORACLE)
def orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-bucket table checksum — the
    replication/migration audit primitive: two copies of a table match
    iff every bucket's (row count, commutative hash sum) matches, and a
    mismatch localizes to 1/{b} of the keyspace for repair. The row hash
    is md5 over a canonical rendering (prices pinned to integer cents,
    the snapshot-diff convention); SUM is the commutative combiner, so
    the checksum is independent of partitioning, ordering and engine —
    pure partial aggregation, one scan, 32-row output at any table
    size. The sum accumulates in 128-bit (decimal(38) here, HUGEINT in
    the oracle) and reduces mod 2^62 at the end, so no row count can
    overflow it."""
    orders = load_table(spark, sf_dir, "orders")
    row_render = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        F.col("o_orderpriority"),
    )
    rh = F.conv(F.substring(F.md5(row_render), 1, 15), 16, 10).cast("bigint")
    return (
        orders.select(
            (F.col("o_orderkey") % _CKSUM_BUCKETS).alias("bucket"),
            rh.alias("rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(F.col("rh").cast("decimal(38,0)"))
                % F.lit(4611686018427387904)
            )
            .cast("bigint")
            .alias("checksum"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# join-key overlap estimation via KMV sketch intersection
# --------------------------------------------------------------------------

_OVKMV_K = 64

_OVKMV_ORACLE = f"""
    with ka as (
        select distinct o_custkey as key from orders
    ), kb as (
        select distinct c_custkey as key from customer
    ), ha as (
        select key, ((('0x' || substr(md5('ov-' || key), 1, 6))::bigint + 0.5)
                     / 16777216.0) as hv
        from ka order by hv limit {_OVKMV_K}
    ), hb as (
        select key, ((('0x' || substr(md5('ov-' || key), 1, 6))::bigint + 0.5)
                     / 16777216.0) as hv
        from kb order by hv limit {_OVKMV_K}
    ), u as (
        select hv, max(in_a) as in_a, max(in_b) as in_b from (
            select hv, 1 as in_a, 0 as in_b from ha
            union all
            select hv, 0, 1 from hb
        ) group by hv order by hv limit {_OVKMV_K}
    )
    select count(*) as k_union,
           sum(in_a * in_b)::bigint as k_both,
           round(sum(in_a * in_b) / count(*), 4) as jaccard_est
    from u
"""


@register("orders_customer_key_overlap_kmv", _OVKMV_ORACLE)
def orders_customer_key_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key overlap estimation from KMV sketches — the pre-join
    diagnostic that answers "how much of each side will actually match?"
    without joining: keep each side's k minimum hash values, merge to the
    union's k minima, and the fraction present in both sides estimates
    the Jaccard of the key sets (Beyer et al.'s KMV set-operation
    estimator). Each side costs one distinct + TakeOrdered(k) — sketch-
    sized driver traffic, no key-set shuffle between tables — and the
    estimator arithmetic runs on 2k rows. The deterministic unit-hash
    family gives the sketch an EXACT cross-engine oracle, like
    ``user_kmv_distinct``."""
    from flight_radar_pipeline_spark.operators.corpus_prep import unit_hash

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def sketch(df: DataFrame, key: str, flag: str) -> DataFrame:
        return (
            df.select(F.col(key).alias("key"))
            .distinct()
            .select(unit_hash("key", "ov").alias("hv"))
            .orderBy("hv")
            .limit(_OVKMV_K)
            .select("hv", F.lit(1).alias(flag))
        )

    ha = sketch(orders, "o_custkey", "in_a")
    hb = sketch(cust, "c_custkey", "in_b")
    u = (
        ha.select("hv", "in_a", F.lit(0).alias("in_b"))
        .unionByName(hb.select("hv", F.lit(0).alias("in_a"), "in_b"))
        .groupBy("hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .orderBy("hv")
        .limit(_OVKMV_K)
    )
    return u.agg(
        F.count(F.lit(1)).alias("k_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("k_both"),
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")) / F.count(F.lit(1)), 4
        ).alias("jaccard_est"),
    )


# --------------------------------------------------------------------------
# schema evolution across snapshot versions (mergeSchema read)
# --------------------------------------------------------------------------

_EVOLVE_ORACLE = """
    with unioned as (
        select o_orderkey, o_orderstatus, null as o_clerk_note
        from orders where o_orderkey % 2 = 0
        union all
        select o_orderkey, o_orderstatus,
               'note-' || (o_orderkey % 7) as o_clerk_note
        from orders where o_orderkey % 2 = 1
    )
    select o_orderstatus,
           count(*) as n_rows,
           sum(case when o_clerk_note is not null then 1 else 0 end)::bigint
               as with_note,
           count(distinct o_clerk_note) as distinct_notes
    from unioned
    group by o_orderstatus
    order by o_orderstatus
"""


@register("orders_schema_evolution", _EVOLVE_ORACLE)
def orders_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across table versions: an old snapshot written
    WITHOUT a column and a new snapshot written WITH it are read
    together via ``mergeSchema`` — the additive-column migration every
    long-lived lake table goes through; old files surface the new
    column as NULL with no rewrite. The entry materializes both
    versions (even keys = v1 without ``o_clerk_note``, odd keys = v2
    with it), reads the directory pair with one merged-schema scan, and
    aggregates presence/cardinality of the evolved column — which the
    oracle states as a plain union. Scale: mergeSchema costs a footer
    read per FILE (not per row) at planning time; pin the read schema
    explicitly once the table is wide enough that footer sampling
    matters."""
    orders = load_table(spark, sf_dir, "orders")
    work = scratch_dir("evolve_")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.concat(F.lit("note-"), (F.col("o_orderkey") % 7)).alias(
            "o_clerk_note"
        ),
    )
    v1.write.mode("overwrite").parquet(os.path.join(work, "data", "v=1"))
    v2.write.mode("overwrite").parquet(os.path.join(work, "data", "v=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(work, "data")
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_clerk_note").isNotNull().cast("bigint")).alias(
                "with_note"
            ),
            F.countDistinct("o_clerk_note").alias("distinct_notes"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# streaming foreachBatch SCD2 merge (full-history dimension maintenance)
# --------------------------------------------------------------------------

_S2_T1 = "2002-01-01 00:00:00"
_S2_T2 = "2002-06-01 00:00:00"

# two sequential update waves: %10 keys at T1, %20 keys (a subset) again
# at T2 — %20 keys end with THREE versions, proving interval chaining
_SCD2_STREAM_ORACLE = f"""
    with cur0 as (
        select o_orderkey, o_totalprice,
               o_orderdate as valid_from, null::timestamp as valid_to
        from orders
    ), u1 as (
        select o_orderkey, o_totalprice + 1000 as p
        from orders where o_orderkey % 10 = 0
    ), h1 as (
        select c.o_orderkey, c.o_totalprice, c.valid_from,
               timestamp '{_S2_T1}' as valid_to
        from cur0 c
        where exists (select 1 from u1 u where u.o_orderkey = c.o_orderkey)
        union all
        select c.o_orderkey, c.o_totalprice, c.valid_from, c.valid_to
        from cur0 c
        where not exists (select 1 from u1 u where u.o_orderkey = c.o_orderkey)
        union all
        select o_orderkey, p, timestamp '{_S2_T1}', null::timestamp from u1
    ), u2 as (
        select o_orderkey, o_totalprice + 2000 as p
        from orders where o_orderkey % 20 = 0
    ), h2 as (
        select h.o_orderkey, h.o_totalprice, h.valid_from,
               timestamp '{_S2_T2}' as valid_to
        from h1 h
        where h.valid_to is null
          and exists (select 1 from u2 u where u.o_orderkey = h.o_orderkey)
        union all
        select h.o_orderkey, h.o_totalprice, h.valid_from, h.valid_to
        from h1 h
        where not (h.valid_to is null
                   and exists (select 1 from u2 u where u.o_orderkey = h.o_orderkey))
        union all
        select o_orderkey, p, timestamp '{_S2_T2}', null::timestamp from u2
    )
    select o_orderkey, round(o_totalprice, 2) as price,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') as valid_from,
           coalesce(strftime(valid_to, '%Y-%m-%d %H:%M:%S'),
                    '9999-12-31 00:00:00') as valid_to,
           valid_to is null as is_current
    from h2 order by o_orderkey, valid_from
"""


@register("orders_scd2_stream_merge", _SCD2_STREAM_ORACLE)
def orders_scd2_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 sink: update waves arrive as a file stream, each
    row carrying its effective timestamp, and ``foreachBatch`` applies
    ``pipeline.scd2_apply`` per effective-ts in ASCENDING order against
    a versioned parquet history — the full-history complement to
    ``orders_scd1_stream_merge`` (which keeps only latest state). Keys
    updated in both waves end with three chained validity intervals.
    The in-batch ascending-ts loop makes the result invariant to how the
    source batches the files (one wave per microbatch or both in one),
    so checkpoint replays and availableNow coalescing cannot reorder
    history. Per-batch work is the scd2_apply semi/anti key joins on the
    CURRENT slice only; closed history passes through untouched — on a
    transactional format this body becomes MERGE INTO."""
    from flight_radar_pipeline_spark.pipeline import scd2_apply

    orders = load_table(spark, sf_dir, "orders")
    work = scratch_dir("scd2_stream_")
    versions = [os.path.join(work, "v0")]
    orders.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    ).write.mode("overwrite").parquet(versions[0])

    waves = [
        (orders.filter(F.col("o_orderkey") % 10 == 0)
         .select("o_orderkey",
                 (F.col("o_totalprice") + 1000).alias("o_totalprice"),
                 F.lit(_S2_T1).alias("eff"))),
        (orders.filter(F.col("o_orderkey") % 20 == 0)
         .select("o_orderkey",
                 (F.col("o_totalprice") + 2000).alias("o_totalprice"),
                 F.lit(_S2_T2).alias("eff"))),
    ]
    # one wave-tagged write job, one file per wave, pinned ascending
    # mtimes (the shared ledger staging); the per-batch ts loop below
    # makes ANY replay order correct, and scd2_apply is key-joined, so
    # within-file row order is immaterial
    upd_stream = wave_stream(spark, work, waves)

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        effs = [r["eff"] for r in batch.select("eff").distinct().collect()]
        cur = spark.read.parquet(versions[-1])
        for ts in sorted(effs):
            sub = batch.filter(F.col("eff") == ts).select(
                "o_orderkey", "o_totalprice"
            )
            cur = scd2_apply(
                cur, sub, ["o_orderkey"], F.to_timestamp(F.lit(ts))
            )
        nxt = os.path.join(work, f"v{len(versions)}")
        cur.write.mode("overwrite").parquet(nxt)
        versions.append(nxt)

    run_microbatches(upd_stream, apply_batch, work)

    final = spark.read.parquet(versions[-1])
    return final.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy("o_orderkey", "valid_from")
