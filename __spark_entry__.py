"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship sketch pipeline on sf0.001.
``queries()`` — one entry per operator (SURVEY.md §2.C + training-data ops);
exact-side queries have matching ``oracle_sql()`` DuckDB strings (identical
aliases, decimal-exact aggregation so value hashes match bit-for-bit);
sketch-side queries are registered without oracles (rows-only check) because
their outputs are estimates no ANSI-SQL engine reproduces.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # sketchlib importable

import numpy as np

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.window import Window


_T_PLANS: dict[tuple[int, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader with a per-session PLAN cache: ``spark.read.parquet``
    re-lists the path and re-reads the footer schema on every call (~50-100
    ms per table per query). A DataFrame is an immutable lazy plan — reusing
    it never caches data; every action still computes from the parquet files.

    Keying on ``id(spark)`` is safe: each cached DataFrame holds its session
    (``DataFrame._session``), so a keyed session is never freed and its id
    cannot be reused by a later session."""
    key = (id(spark), sf_dir, name)
    df = _T_PLANS.get(key)
    if df is None:
        df = _T_PLANS[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df


def _dec(col, scale: int = 4):
    """Decimal-exact aggregation input: float64 -> DECIMAL(18,4) so SUM/AVG
    are associative and engine-independent; results cast back to DOUBLE."""
    return F.col(col).cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the full mergeable-sketch family over a deterministic
    tokenized corpus (BASELINE.json:15 shape), probe the Bloom filter, and
    report one row per sketch with its estimate vs the exact value."""
    from sketchlib import agg, datagen, fpr, hll, kll, tdigest, cms as cmsmod
    from sketchlib.config import BloomConfig, CMSConfig, HLLConfig, KLLConfig, TDigestConfig
    from sketchlib import probe as probemod

    corpus = datagen.corpus_df(spark, 2_000, partitions=4).cache()
    specs = [
        agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 21, k=8, word_bits=64,
                                            words_per_block=8, sectors=8), "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=13), "tokens"),
        agg.SketchSpec("cms", CMSConfig(eps=0.001, delta=0.01), "tokens"),
        agg.SketchSpec("kll", KLLConfig(k=200), "n_tok"),
        agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
    ]
    blobs = agg.collect_blobs(agg.build_sketches(corpus, specs))

    exact_distinct = (
        corpus.select(F.explode("tokens").alias("t")).agg(F.countDistinct("t").alias("d"))
        .collect()[0]["d"]
    )
    exact_median = corpus.agg(F.expr("percentile(n_tok, 0.5)").alias("m")).collect()[0]["m"]

    # Bloom probe: members must all hit; absent ids measure empirical FPR
    toks = corpus.select(F.explode("tokens").alias("t")).distinct()
    members_missing = (
        probemod.with_bloom_membership(toks, blobs[("bloom", "")], "t")
        .filter(~F.col("member")).count()
    )
    absent = spark.range(100_000).select((F.col("id") + datagen.VOCAB).cast("int").alias("t"))
    fp = probemod.with_bloom_membership(absent, blobs[("bloom", "")], "t").filter("member").count()
    from sketchlib import blob as blobmod
    _, bloom_cfg, _ = blobmod.unpack(blobs[("bloom", "")])

    rows = [
        Row(sketch="bloom", estimate=float(fp) / 100_000.0,
            reference=float(fpr.fpr(bloom_cfg, exact_distinct)),
            detail=f"false_negatives={members_missing}"),
        Row(sketch="hll", estimate=float(hll.estimate_blob(blobs[("hll", "")])),
            reference=float(exact_distinct), detail="distinct tokens"),
        Row(sketch="cms_total", estimate=float(cmsmod.total_blob(blobs[("cms", "")])),
            reference=float(corpus.agg(F.sum("n_tok")).collect()[0][0]), detail="total tokens"),
        Row(sketch="kll_median", estimate=float(kll.quantiles_blob(blobs[("kll", "")], [0.5])[0]),
            reference=float(exact_median), detail="median n_tok"),
        Row(sketch="tdigest_median",
            estimate=float(tdigest.quantiles_blob(blobs[("tdigest", "")], [0.5])[0]),
            reference=float(exact_median), detail="median n_tok"),
    ]
    corpus.unpersist()
    return spark.createDataFrame(rows)


# ---------------------------------------------------------------------------
# exact-side queries (DuckDB oracles)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_top_parts_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount")))
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "l_partkey")
        .limit(10)
    )


def q03_orders_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(_dec("o_totalprice")).cast("double").alias("total"))
        .orderBy("o_orderpriority")
    )


def q04_customer_nation_region(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.sum(_dec("c_acctbal")).cast("double").alias("acctbal_sum"))
        .orderBy("r_name", "c_mktsegment")
    )


def q05_events_type_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(_dec("value")).cast("double").alias("value_sum"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("event_type")
    )


def q06_first_event_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    first = e.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return first.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_first")).orderBy("event_type")


def q07_docs_lang_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("chars_sum"),
             F.min("n_chars").alias("chars_min"),
             F.max("n_chars").alias("chars_max"))
        .orderBy("lang")
    )


def q08_docs_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    return (
        d.groupBy("source")
        .agg(F.sum(n_words).alias("words_sum"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source")
    )


def q09_docs_exact_dedup(spark, sf_dir):
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    kept = textops.exact_dedup(d, "text", "doc_id")
    return (
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")
    )


def q10_chars_quantiles(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.5)").alias("p50"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"),
    )


def q11_ship_months(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").alias("y"), F.month("l_shipdate").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(_dec("l_quantity")).cast("double").alias("qty_sum"))
        .orderBy("y", "m")
    )


def q12_part_brand_stats(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"),
             F.max("p_size").alias("max_size"),
             F.sum(_dec("p_retailprice")).cast("double").alias("price_sum"))
        .orderBy("p_brand")
    )


def q13_supplier_nation(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             F.sum(_dec("s_acctbal")).cast("double").alias("acctbal_sum"))
        .orderBy("n_name")
    )


def q14_events_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    day = F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    return e.groupBy(day).agg(F.count(F.lit(1)).alias("n")).orderBy("day")


def q15_orders_by_segment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(_dec("o_totalprice")).cast("double").alias("total"))
        .orderBy("c_mktsegment")
    )


def q16_docs_quality(spark, sf_dir):
    """Integer-sum formulation of the quality features so the single final
    division is the only float op (engine-independent)."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in", "is")])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    feats = d.select("lang", n_words.alias("nw"), n_stop.alias("ns"))
    return (
        feats.groupBy("lang")
        .agg(F.sum("nw").alias("words_sum"), F.sum("ns").alias("stop_sum"))
        .withColumn("stop_ratio", F.col("stop_sum") / F.col("words_sum"))
        .orderBy("lang")
    )


def q17_semijoin_large_parts(spark, sf_dir):
    """Bloom-accelerated semi-join (the reference's raison d'être, SIGMOD19
    §1): lineitem rows whose part has p_size > 40 — exact because surviving
    rows are verified by the actual semi-join; the filter only prunes.

    The filter is built DISTRIBUTED (per-partition partials OR-merged by
    sketchlib.agg); only the KB-sized blob reaches the driver. At 100x scale
    the build side is millions of keys — collecting them to hash serially in
    one process is the anti-pattern this query used to demo."""
    from sketchlib import agg, fpr as fprmod, probe as probemod

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    n_keys = p.count()
    if n_keys:
        cfg = fprmod.suggest_config(n_keys, 0.01, block_bits=512, sectors=8)
        final = agg.build_sketches(
            p.select("p_partkey"), [agg.SketchSpec("bloom", cfg, "p_partkey")]
        )
        blob = agg.collect_blobs(final)[("bloom", "")]
        pruned = probemod.with_bloom_membership(li, blob, "l_partkey", "_m").filter("_m").drop("_m")
    else:
        pruned = li.limit(0)
    joined = pruned.join(p.select("p_partkey"), pruned.l_partkey == F.col("p_partkey"), "left_semi")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("l_quantity")).cast("double").alias("qty_sum"),
    )


def q18_embeddings_label_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.size("embedding")).alias("dims_sum"))
        .orderBy("label")
    )


def q19_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
        )
        .orderBy("status", "priority")
    )


def q20_events_value_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10.0).alias("bucket")
    return e.groupBy(bucket).agg(F.count(F.lit(1)).alias("n")).orderBy("bucket")


def q21_user_sessions(spark, sf_dir):
    """Sessionization via LAG: a new session starts after a >30 min gap."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    return marked.agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        (F.count(F.lit(1)) / F.sum("new_session")).alias("events_per_session"),
    )


def q22_set_ops(spark, sf_dir):
    """Set operators: users who did both the most and least common event type,
    and those who did only the most common."""
    e = _t(spark, sf_dir, "events")
    types = [r["event_type"] for r in
             e.groupBy("event_type").count().orderBy(F.desc("count"), "event_type").collect()]
    hi, lo = types[0], types[-1]
    # one aggregation job instead of three set-op jobs (the old
    # intersect/exceptAll form recomputed the intersect subtree and shuffled
    # each distinct side per action). Equivalence: u_hi/u_lo are DISTINCT
    # user sets, so |u_hi ∩ u_lo| = #users with both flags and
    # |u_hi exceptAll (u_hi ∩ u_lo)| = #users with hi but not lo; per-user
    # max-flags then two sums compute exactly those cardinalities (null
    # user_ids form one group, matching null-safe set-op equality; hi == lo
    # degenerates to both = |u_hi|, only_hi = 0 in both forms).
    flags = (
        e.filter(F.col("event_type").isin(hi, lo))
        .groupBy("user_id")
        .agg(F.max(F.when(F.col("event_type") == hi, 1).otherwise(0)).alias("_h"),
             F.max(F.when(F.col("event_type") == lo, 1).otherwise(0)).alias("_l"))
    )
    counts = flags.agg(
        F.sum(F.col("_h") * F.col("_l")).alias("_both"),
        F.sum(F.col("_h") * (1 - F.col("_l"))).alias("_only"),
    ).collect()[0]
    both = int(counts["_both"] or 0)
    only_hi = int(counts["_only"] or 0)
    return spark.createDataFrame(
        [Row(hi_type=hi, lo_type=lo, users_both=both, users_only_hi=only_hi)]
    )


def q23_cube_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n",
        )
        .orderBy("rf", "ls")
    )


def q24_top3_events_per_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 3")
        .select("event_type", "rn", "event_id",
                F.round(F.col("value"), 6).alias("value"))
        .orderBy("event_type", "rn")
    )


def q25_langid_counts(spark, sf_dir):
    """Language-ID heuristic under an exact oracle: the marker-word scorer is
    pure SQL, so DuckDB reproduces it bit-for-bit (same tie-break order)."""
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    return (
        textops.langid_heuristic(d, split_pattern=" ")
        .groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def q26_chars_quartiles_by_source(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return (
        d.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("source", "quartile")
        .agg(F.count(F.lit(1)).alias("n"), F.max("n_chars").alias("max_chars"))
        .orderBy("source", "quartile")
    )


def q27_string_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            F.upper(F.substring("p_name", 1, 3)).alias("prefix"),
            F.length("p_name").alias("name_len"),
            F.when(F.col("p_type").like("%BRASS%"), 1).otherwise(0).alias("is_brass"),
        )
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("name_len").alias("len_sum"),
             F.sum("is_brass").alias("brass_n"))
        .orderBy("prefix")
    )


def q28_date_parts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.dayofmonth("o_orderdate").alias("dom"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("dom") <= 3)
        .orderBy("y", "q", "dom")
    )


def q29_math_functions(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.sqrt(F.col("l_extendedprice"))).alias("sqrt_bucket")
    return (
        li.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.ceil("l_discount").cast("bigint")).alias("ceil_disc_sum"),
            F.sum(F.abs(F.col("l_quantity") - 25).cast("bigint")).alias("abs_dev_sum"),
        )
        .orderBy("sqrt_bucket")
    )


def q30_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k")
    return (
        e.select(k, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"),
             F.min("k").alias("k_min"), F.max("k").alias("k_max"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# sketch-side queries (estimates — registered without oracle: rows-only check)
# ---------------------------------------------------------------------------

def sk_bloom_fpr_grid(spark, sf_dir):
    """Empirical vs analytic FPR at matched m/n and k across the reference's
    blocked/sectorized geometry grid — the BASELINE.json:2 match criterion.

    Fully distributed: ALL geometries build in ONE partial-build pass over
    the scan (one spec per geometry, OR-merged per config), and the zero-FN /
    empirical-FPR checks probe via broadcast blobs — the driver only ever
    sees KB-sized blobs and two counts per geometry, never the key column.
    Includes a magic-addressing (non-power-of-two m, Lemire fastrange) row:
    exact bits/key budget instead of rounding m up to a power of two.

    Reading note: l_partkey is a DENSE sequential key set, which the
    multiplicative hash does not place like the random keys the Poisson
    mixture assumes, so empirical FPR departs from analytic in a direction
    that depends on geometry and n. At sf0.01, B512/s1/k4 at 8 bits/key
    reads 0.02579 against an analytic 0.02335 and B512/s8/z2/k8 0.02916
    against 0.02673; at sf0.1 all 9 rows read below analytic (ratio
    0.31-0.80); perfbench's 131k dense-id filter reads 13% above. The fix
    is the hash (ROADMAP "Repair the Bloom and HLL contracts"). T2
    (tests/test_fpr.py) checks the formula contract on random keys at 120k
    scale, where empirical matches analytic within the CI."""
    from sketchlib import agg, fpr as fprmod, probe as probemod
    from sketchlib.config import BloomConfig

    li = _t(spark, sf_dir, "lineitem")
    keys_df = li.select("l_partkey").distinct().cache()
    n = keys_df.count()
    import math

    geoms = (
        dict(word_bits=32, words_per_block=1, sectors=1, k=4),
        dict(word_bits=64, words_per_block=8, sectors=1, k=4),
        dict(word_bits=64, words_per_block=8, sectors=8, k=8),
        dict(word_bits=64, words_per_block=8, sectors=8, zones=2, k=8),
    )
    cfgs: dict[str, tuple[BloomConfig, int]] = {}
    for bits_per_key in (8, 16):
        m = 1 << int(math.ceil(math.log2(max(n, 1) * bits_per_key)))
        for gi, geom in enumerate(geoms):
            cfgs[f"g{bits_per_key}_{gi}"] = (BloomConfig(m_bits=m, **geom), bits_per_key)
    # magic addressing: the EXACT 12 bits/key budget, whole blocks, non-pow2
    m_exact = max(1, (n * 12) // 512) * 512
    cfgs["g12_magic"] = (
        BloomConfig(m_bits=m_exact, word_bits=64, words_per_block=8, sectors=8,
                    k=8, addressing="magic"),
        12,
    )

    specs = [agg.SketchSpec(name, cfg, "l_partkey") for name, (cfg, _) in cfgs.items()]
    # Arrow file-scan build engine: Bloom partials OR-merge, so the final
    # blobs are byte-identical under ANY partial layout (T4, pinned by the
    # cross-engine equality test) — the fast engine is safe here, unlike for
    # the order-sensitive kll/tdigest builds
    blobs = agg.collect_blobs(
        agg.build_sketches_files(spark, f"{sf_dir}/lineitem.parquet", specs))

    # deterministic distributed probe set, disjoint from the key set by anti-join
    probes = (
        spark.range(400_000)
        .select((F.pmod(F.xxhash64("id", F.lit(7)), F.lit(2**31 - 2**22)) + 2**22)
                .cast("int").alias("t"))
        .join(keys_df, F.col("t") == F.col("l_partkey"), "left_anti")
    )
    # ONE probe pass per table instead of one per (config, table): the 9
    # membership columns are independent arrow UDFs over the same key column,
    # so Catalyst fuses them into a single ArrowEvalPython node and one
    # aggregation job yields all 9 counts (was 18 sequential count() jobs,
    # each paying its own stage/python-task latency; measured 20.6 s -> ~2 s
    # warm at sf0.01). Counts are produced by the identical kernel over the
    # identical inputs, so the emitted rows are unchanged. Each of the 9
    # blobs is broadcast once: the second probe of a blob reuses the
    # broadcast made by the first (probe._broadcast), 9 broadcasts, not 18.
    names = list(cfgs)
    kdf, pdf = keys_df, probes
    for i, name in enumerate(names):
        blob = blobs[(name, "")]
        kdf = probemod.with_bloom_membership(kdf, blob, "l_partkey", f"_m{i}")
        pdf = probemod.with_bloom_membership(pdf, blob, "t", f"_m{i}")
    fn_counts = kdf.agg(
        *[F.count(F.when(~F.col(f"_m{i}"), 1)).alias(f"c{i}") for i in range(len(names))]
    ).collect()[0]
    # the probe-set size rides the same aggregation (count(*) column), so
    # the probe table is scanned once — no cache, no separate count job
    fp_counts = pdf.agg(
        F.count(F.lit(1)).alias("np"),
        *[F.count(F.when(F.col(f"_m{i}"), 1)).alias(f"c{i}") for i in range(len(names))]
    ).collect()[0]
    n_probes = fp_counts["np"]
    rows = []
    for i, name in enumerate(names):
        cfg, bits_per_key = cfgs[name]
        rows.append(Row(
            geometry=f"B{cfg.block_bits}/s{cfg.sectors}/z{cfg.zones}/k{cfg.k}/{cfg.addressing}",
            bits_per_key=bits_per_key, n_keys=int(n),
            false_negatives=int(fn_counts[f"c{i}"]),
            empirical_fpr=float(fp_counts[f"c{i}"]) / max(n_probes, 1),
            analytic_fpr=float(fprmod.fpr(cfg, n)),
        ))
    keys_df.unpersist()
    return spark.createDataFrame(rows)


def sk_hll_distinct_by_source(spark, sf_dir):
    from sketchlib import agg, hll
    from sketchlib.config import HLLConfig

    d = _t(spark, sf_dir, "documents")
    words = d.select("source", F.split(F.col("text"), " ").alias("w"))
    hashed = words.select(
        "source", F.expr("transform(w, x -> xxhash64(x))").alias("tokens")
    )
    final = agg.build_sketches(
        hashed, [agg.SketchSpec("hll", HLLConfig(p=12), "tokens")], group_by="source"
    )
    rows = [
        Row(source=r["group"], distinct_words_est=float(hll.estimate_blob(bytes(r["blob"]))))
        for r in final.collect()
    ]
    return spark.createDataFrame(sorted(rows, key=lambda r: r.source))


def sk_cms_heavy_hitters(spark, sf_dir):
    """CMS heavy hitters, wide + narrow counters in ONE query (round 5:
    folds the former sk_cms_narrow_counters so every registry entry fits the
    driver's 50-row CORRECTNESS cap). The 64-bit default and the 16-bit
    variable-width build (round 4, PAPERS.md) run at the same (eps, delta)
    over l_partkey; below the saturation cap the narrow estimates must equal
    the wide ones while the blob is ~4x smaller — the state/shuffle win the
    variable-width-counter literature targets. Rows-only (estimates)."""
    from sketchlib import agg, cms
    from sketchlib.config import CMSConfig

    li = _t(spark, sf_dir, "lineitem")
    spec = dict(eps=0.001, delta=0.01)
    # both counter widths build in ONE scan pass (spec names are free-form
    # row keys; the blob bytes depend only on each spec's own config+input,
    # so results are identical to the former two sequential builds)
    both = agg.collect_blobs(agg.build_sketches(
        li, [agg.SketchSpec("cms_w", CMSConfig(**spec), "l_partkey"),
             agg.SketchSpec("cms_n", CMSConfig(counter_bits=16, **spec), "l_partkey")]))
    wide, narrow = both[("cms_w", "")], both[("cms_n", "")]
    top = (
        li.groupBy("l_partkey").count().orderBy(F.desc("count"), "l_partkey").limit(20).collect()
    )
    ids = np.array([r["l_partkey"] for r in top], dtype=np.int64)
    true = [int(r["count"]) for r in top]
    est_w = cms.query_blob(ids, wide)
    est_n = cms.query_blob(ids, narrow)
    rows = [
        Row(l_partkey=int(i), true_count=t, cms_estimate=int(w),
            est_narrow16=int(n), narrow_equal=bool(w == n),
            wide_bytes=len(wide), narrow_bytes=len(narrow))
        for i, t, w, n in zip(ids.tolist(), true, est_w.tolist(), est_n.tolist())
    ]
    return spark.createDataFrame(rows)


def sk_kll_quantiles(spark, sf_dir):
    from sketchlib import agg, kll
    from sketchlib.config import KLLConfig

    li = _t(spark, sf_dir, "lineitem")
    blob = agg.collect_blobs(
        agg.build_sketches(li, [agg.SketchSpec("kll", KLLConfig(k=200), "l_extendedprice")])
    )[("kll", "")]
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = kll.quantiles_blob(blob, qs)
    return spark.createDataFrame(
        [Row(q=float(q), kll_estimate=float(e)) for q, e in zip(qs, est)]
    )


def sk_tdigest_quantiles(spark, sf_dir):
    from sketchlib import agg, tdigest
    from sketchlib.config import TDigestConfig

    li = _t(spark, sf_dir, "lineitem")
    blob = agg.collect_blobs(
        agg.build_sketches(li, [agg.SketchSpec("td", TDigestConfig(compression=100), "l_extendedprice")])
    )[("td", "")]
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = tdigest.quantiles_blob(blob, qs)
    return spark.createDataFrame(
        [Row(q=float(q), tdigest_estimate=float(e)) for q, e in zip(qs, est)]
    )


def sk_minhash_near_dups(spark, sf_dir):
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    return (
        textops.minhash_near_duplicates(d, num_perm=128, bands=32, threshold=0.5)
        .orderBy("a", "b")
    )


def sk_simhash_near_dups(spark, sf_dir):
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    return textops.simhash_near_duplicates(d, max_hamming=3).orderBy("a", "b")


def sk_ngram_jaccard_verify(spark, sf_dir):
    """MinHash candidates verified with exact n-gram Jaccard."""
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    sigs_pairs = textops.minhash_near_duplicates(d, num_perm=128, bands=32, threshold=0.3)
    return textops.ngram_jaccard_pairs(d, sigs_pairs.select("a", "b"), shingle_n=3).orderBy("a", "b")


def sk_build_arrow_scan(spark, sf_dir):
    """Arrow-native file-scan build (round 3 fast path) compared with the
    canonical DataFrame-scan build on the same parquet corpus, per sketch:
    byte identity plus one estimate from each engine. Bloom, HLL and CMS
    blobs are byte-identical under any partial layout (monoid merges); KLL
    and t-digest blobs are byte-identical only when both engines fold the
    same partial layout, since their interior merges compact (8 files at
    local[4] give KLL blobs of 4,881 vs 9,673 bytes; see ROADMAP "Canonical
    merge topology over one file source"). Rows-only by design (engine
    comparison, not SQL).

    The fast path exists because the mapInArrow input detour
    (parquet -> InternalRow -> Arrow) measures ~6x the task CPU of a
    pyarrow columnar decode of the same files; at 100 TB the file listing
    comes from Iceberg metadata tables instead of a directory walk."""
    import os
    import tempfile

    from sketchlib import agg, datagen, hll, kll, tdigest
    from sketchlib.config import (
        BloomConfig, CMSConfig, HLLConfig, KLLConfig, TDigestConfig,
    )

    # per-run unique dir: two concurrent driver runs must not overwrite each
    # other's corpus mid-scan (ADVICE r3); removed below once rows are built
    run_dir = tempfile.mkdtemp(prefix="sketchlib_arrow_scan_")
    path = os.path.join(run_dir, "corpus")
    datagen.corpus_df(spark, 2_000, partitions=4).write.mode("overwrite").parquet(path)
    corpus = spark.read.parquet(path)
    specs = [
        agg.SketchSpec("bloom", BloomConfig(m_bits=1 << 20, k=8, word_bits=64,
                                            words_per_block=8, sectors=8), "tokens"),
        agg.SketchSpec("hll", HLLConfig(p=13), "tokens"),
        agg.SketchSpec("cms", CMSConfig(eps=0.001, delta=0.01), "tokens"),
        agg.SketchSpec("kll", KLLConfig(k=200), "n_tok"),
        agg.SketchSpec("tdigest", TDigestConfig(compression=100), "n_tok"),
    ]
    ref = agg.collect_blobs(agg.build_sketches(corpus, specs))
    fast = agg.collect_blobs(agg.build_sketches_files(spark, path, specs))
    est = {
        "hll": lambda b: float(hll.estimate_blob(b)),
        "kll": lambda b: float(kll.quantiles_blob(b, [0.5])[0]),
        "tdigest": lambda b: float(tdigest.quantiles_blob(b, [0.5])[0]),
    }
    rows = []
    for (name, group) in sorted(ref):
        e = est.get(name, lambda b: float(len(b)))
        rows.append(Row(
            sketch=name,
            byte_identical=bool(ref[(name, group)] == fast[(name, group)]),
            est_df=e(ref[(name, group)]),
            est_arrow=e(fast[(name, group)]),
        ))
    import shutil

    shutil.rmtree(run_dir, ignore_errors=True)
    return spark.createDataFrame(rows)


def sk_langid_trigram(spark, sf_dir):
    """BOTH language-ID methods in one query (round 5: folds the former
    sk_langid registry entry so every entry fits the driver's 50-row
    CORRECTNESS cap): per (marker, trigram) prediction pair, counts plus
    the overall agreement rate embedded in every row — the marker-heuristic
    distribution is the row-sum over lang_pred, the trigram distribution the
    row-sum over lang_trigram. The trigram scorer is the capability path
    (real profile-based lang-ID); the marker heuristic stays as the
    SQL-expressible oracle query (q25). Rows-only by design: the kernel's
    accuracy on real multilingual text is asserted in tests/test_textops.py
    against embedded ground-truth sentences."""
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    markers = textops.langid_heuristic(d).select("doc_id", "lang_pred")
    tri = textops.langid_trigram(d).select("doc_id", "lang_trigram")
    joined = markers.join(tri, "doc_id")
    agree = joined.agg(
        F.avg(F.when(F.col("lang_pred") == F.col("lang_trigram"), 1.0)
              .otherwise(0.0)).alias("agreement")
    )
    return (
        joined.groupBy("lang_pred", "lang_trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(agree))
        .select("lang_pred", "lang_trigram", "n",
                F.round("agreement", 4).alias("agreement_rate"))
        .orderBy("lang_pred", "lang_trigram")
    )


def sk_doc_fingerprints(spark, sf_dir):
    from sketchlib import textops

    d = _t(spark, sf_dir, "documents")
    fp = textops.doc_fingerprints(d)
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_distinct_fp"),
    )


def sk_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 (Arrow matmul path) around vector 0."""
    from sketchlib import simsearch

    e = _t(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").first()["embedding"]
    return simsearch.cosine_topk_arrow(e, list(q), k=10).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


def sk_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (the 100-TB path) around vector 0."""
    from sketchlib import simsearch

    e = _t(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").first()["embedding"]
    return simsearch.ann_topk_lsh(e, list(q), dim=len(q), k=10, hamming=2).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


def sk_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (k-means clusters + nprobe pruning) around vector 0."""
    from sketchlib import simsearch

    e = _t(spark, sf_dir, "embeddings")
    q = e.orderBy("vec_id").first()["embedding"]
    return simsearch.ann_topk_ivf(
        e, list(q), dim=len(q), k=10, n_clusters=8, nprobe=3
    ).select("vec_id", F.round("cosine", 6).alias("cosine"))


def sk_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate detection (the multimodal leg of the
    dedup family): inject 5 deterministic near-copies into the embeddings
    table, recover them via multi-table hyperplane LSH + exact cosine verify.
    Injected ids are original + 1_000_000; every returned pair is exactly
    verified, so precision is 1.0 and the check is recall."""
    from sketchlib import simsearch

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.orderBy("vec_id").first()["embedding"])
    base = e.orderBy("vec_id").limit(5)
    injected = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.97) + F.lit(0.01)).alias("embedding"),
        "label",
    )
    corpus = e.unionByName(injected)
    pairs = simsearch.embedding_near_duplicates(corpus, dim, threshold=0.98)
    return pairs.orderBy("a", "b").select(
        "a", "b", F.round("cosine", 4).alias("cosine")
    )


def sk_approx_topk(spark, sf_dir):
    """Approximate heavy hitters (local-top-c candidates + CMS scoring)."""
    from sketchlib import topk

    li = _t(spark, sf_dir, "lineitem")
    pairs = topk.approx_topk(li, "l_partkey", k=20)
    return spark.createDataFrame(
        [Row(l_partkey=v, est_count=c, rank=i + 1) for i, (v, c) in enumerate(pairs)]
    )


def sk_token_near_dups(spark, sf_dir):
    """Near-dup detection over the pre-tokenized corpus shape: deterministic
    synthetic corpus with injected exact + near duplicates."""
    from sketchlib import datagen, textops

    corpus = datagen.corpus_df(spark, 2_000, partitions=4)
    # inject duplicates of the first 5 docs (doc_ids prefixed 'dup')
    dups = (
        corpus.orderBy("doc_id").limit(5)
        .select(F.concat(F.lit("dup_of_"), F.col("doc_id")).alias("doc_id"), "tokens")
    )
    # materialize the generated fixture once: every un-materialized branch
    # of the dedup plan (signatures, dup sort, verify joins) would otherwise
    # re-run the python generation stage; rows are deterministic (seed 42)
    # and every invocation still generates from scratch
    both = corpus.select("doc_id", "tokens").unionByName(dups).localCheckpoint(eager=True)
    pairs = textops.token_near_duplicates(both, num_perm=128, bands=32, threshold=0.8)
    return pairs.orderBy("a", "b")


def sk_corpus_pipeline(spark, sf_dir):
    """The north-rule pipeline on the synthetic tokenized corpus: all five
    sketches, grouped by source, with exact references."""
    import math
    from sketchlib import agg, datagen, hll
    from sketchlib.config import HLLConfig

    corpus = datagen.corpus_df(spark, 2_000, partitions=4).cache()
    final = agg.build_sketches(
        corpus, [agg.SketchSpec("hll", HLLConfig(p=13), "tokens")], group_by="source"
    )
    exact = {
        r["source"]: r["d"]
        for r in corpus.select("source", F.explode("tokens").alias("t"))
        .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()
    }
    rows = []
    for r in final.collect():
        est = hll.estimate_blob(bytes(r["blob"]))
        ex = exact[r["group"]]
        rows.append(Row(
            source=r["group"], exact_distinct=int(ex), hll_estimate=float(est),
            rel_err=float(abs(est - ex) / ex), bound_4sigma=float(4 * 1.04 / math.sqrt(2**13)),
        ))
    corpus.unpersist()
    return spark.createDataFrame(sorted(rows, key=lambda r: r.source))


def sk_advisor_skyline(spark, sf_dir):
    """Performance-optimal filter selection (reference A16 / [SIGMOD19] §5):
    for the lineitem partkey cardinality, sweep the work-saved-per-pruned-
    element parameter t_w and report the chosen geometry, its probe cost and
    analytic FPR, and the total expected cost per probe. Demonstrates the
    skyline behavior: cheap/leaky filters win at small t_w, tight ones at
    large t_w."""
    from sketchlib import advisor, fpr as fprmod

    li = _t(spark, sf_dir, "lineitem")
    n = li.select("l_partkey").distinct().count()
    cost_fn, cost_source = advisor.resolve_probe_cost(None)
    rows = []
    for t_w_ns in (0.0, 50.0, 500.0, 5_000.0, 50_000.0, 5e6):
        cfg = advisor.suggest_config_cost(n, t_w_ns)
        p_ns = cost_fn(cfg)
        f = fprmod.fpr(cfg, n)
        rows.append(Row(
            t_w_ns=float(t_w_ns),
            geometry=f"B{cfg.block_bits}/s{cfg.sectors}/z{cfg.zones}/k{cfg.k}",
            m_bits=int(cfg.m_bits),
            probe_ns=float(round(p_ns, 1)),
            analytic_fpr=float(f),
            cost_ns=float(round(p_ns + f * t_w_ns, 2)),
            cost_source=cost_source,
        ))
    return spark.createDataFrame(rows)


def sk_cuckoo_membership(spark, sf_dir):
    """Distributed cuckoo-filter build (reference A13 lifted to per-partition
    partials + set-union tree merge): zero false negatives checked by a
    distributed probe over the key set, empirical FPR vs the [FAN14] §3.1
    bound on a disjoint probe set. Cuckoo is the delete-capable, FPR-efficient
    peer of Bloom in the reference's performance skyline ([SIGMOD19] §4)."""
    from sketchlib import cuckoo, probe as probemod
    from sketchlib.cuckoo import CuckooFilter, analytic_fpr

    li = _t(spark, sf_dir, "lineitem")
    keys_df = li.select("l_partkey").distinct().cache()
    n = keys_df.count()
    blob = cuckoo.build_distributed(li.select("l_partkey"), "l_partkey", n)
    fn = (
        probemod.with_cuckoo_membership(keys_df, blob, "l_partkey", "_m")
        .filter(~F.col("_m")).count()
    )
    probes = (
        spark.range(400_000)
        .select((F.pmod(F.xxhash64("id", F.lit(11)), F.lit(2**31 - 2**22)) + 2**22)
                .cast("long").alias("t"))
        .join(keys_df, F.col("t") == F.col("l_partkey"), "left_anti")
    )
    # probe-set size and FP count from ONE aggregation over one probe pass
    # (no cache, no separate count job); values unchanged
    fp_row = (
        probemod.with_cuckoo_membership(probes, blob, "t")
        .agg(F.count(F.lit(1)).alias("np"),
             F.count(F.when(F.col("member"), 1)).alias("fp"))
        .collect()[0]
    )
    n_probes, fp = fp_row["np"], fp_row["fp"]
    f = CuckooFilter.from_blob(blob)
    row = Row(
        n_keys=int(n), false_negatives=int(fn),
        empirical_fpr=float(fp) / max(n_probes, 1),
        analytic_fpr=float(analytic_fpr(f.cfg)),
        load_factor=float(f.n) / f.cfg.capacity,
        table_kb=float(f.cfg.capacity * 2) / 1024.0,
    )
    keys_df.unpersist()
    return spark.createDataFrame([row])


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # exact-side (DuckDB oracle)
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_parts_revenue": q02_top_parts_revenue,
        "q03_orders_priority": q03_orders_priority,
        "q04_customer_nation_region": q04_customer_nation_region,
        "q05_events_type_stats": q05_events_type_stats,
        "q06_first_event_per_user": q06_first_event_per_user,
        "q07_docs_lang_stats": q07_docs_lang_stats,
        "q08_docs_token_counts": q08_docs_token_counts,
        "q09_docs_exact_dedup": q09_docs_exact_dedup,
        "q10_chars_quantiles": q10_chars_quantiles,
        "q11_ship_months": q11_ship_months,
        "q12_part_brand_stats": q12_part_brand_stats,
        "q13_supplier_nation": q13_supplier_nation,
        "q14_events_daily": q14_events_daily,
        "q15_orders_by_segment": q15_orders_by_segment,
        "q16_docs_quality": q16_docs_quality,
        "q17_semijoin_large_parts": q17_semijoin_large_parts,
        "q18_embeddings_label_stats": q18_embeddings_label_stats,
        "q19_rollup_orders": q19_rollup_orders,
        "q20_events_value_histogram": q20_events_value_histogram,
        "q21_user_sessions": q21_user_sessions,
        "q22_set_ops": q22_set_ops,
        "q23_cube_lineitem": q23_cube_lineitem,
        "q24_top3_events_per_type": q24_top3_events_per_type,
        "q25_langid_counts": q25_langid_counts,
        "q26_chars_quartiles_by_source": q26_chars_quartiles_by_source,
        "q27_string_functions": q27_string_functions,
        "q28_date_parts": q28_date_parts,
        "q29_math_functions": q29_math_functions,
        "q30_json_extract": q30_json_extract,
        # sketch-side (rows-only). 50 entries TOTAL: the driver's
        # CORRECTNESS harness caps at 50 rows (r3: 51 registered/50 checked,
        # r4: 52/50 — the last two dict entries never got rows), so round 5
        # folded sk_langid into sk_langid_trigram and sk_cms_narrow_counters
        # into sk_cms_heavy_hitters, and the two former victims
        # (sk_advisor_skyline, sk_embedding_near_dups) now sit early in the
        # block so any future cap shrink has different, newer victims.
        "sk_bloom_fpr_grid": sk_bloom_fpr_grid,
        "sk_advisor_skyline": sk_advisor_skyline,
        "sk_embedding_near_dups": sk_embedding_near_dups,
        "sk_hll_distinct_by_source": sk_hll_distinct_by_source,
        "sk_cms_heavy_hitters": sk_cms_heavy_hitters,
        "sk_kll_quantiles": sk_kll_quantiles,
        "sk_tdigest_quantiles": sk_tdigest_quantiles,
        "sk_minhash_near_dups": sk_minhash_near_dups,
        "sk_simhash_near_dups": sk_simhash_near_dups,
        "sk_ngram_jaccard_verify": sk_ngram_jaccard_verify,
        "sk_langid_trigram": sk_langid_trigram,
        "sk_build_arrow_scan": sk_build_arrow_scan,
        "sk_doc_fingerprints": sk_doc_fingerprints,
        "sk_ann_cosine_topk": sk_ann_cosine_topk,
        "sk_ann_lsh_topk": sk_ann_lsh_topk,
        "sk_ann_ivf_topk": sk_ann_ivf_topk,
        "sk_approx_topk": sk_approx_topk,
        "sk_token_near_dups": sk_token_near_dups,
        "sk_corpus_pipeline": sk_corpus_pipeline,
        "sk_cuckoo_membership": sk_cuckoo_membership,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_top_parts_revenue": """
            SELECT l_partkey,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            GROUP BY l_partkey
            ORDER BY revenue DESC, l_partkey
            LIMIT 10
        """,
        "q03_orders_priority": """
            SELECT o_orderpriority, COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q04_customer_nation_region": """
            SELECT r_name, c_mktsegment, COUNT(*) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS acctbal_sum
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, c_mktsegment
            ORDER BY r_name, c_mktsegment
        """,
        "q05_events_type_stats": """
            SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
                   strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
                   strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q06_first_event_per_user": """
            WITH ranked AS (
              SELECT event_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
              FROM events
            )
            SELECT event_type, COUNT(*) AS n_first FROM ranked WHERE rn = 1
            GROUP BY event_type ORDER BY event_type
        """,
        "q07_docs_lang_stats": """
            SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
                   MIN(n_chars) AS chars_min, MAX(n_chars) AS chars_max
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q08_docs_token_counts": """
            SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words_sum,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY source ORDER BY source
        """,
        "q09_docs_exact_dedup": """
            WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text)
            SELECT source, COUNT(*) AS n_kept
            FROM documents WHERE doc_id IN (SELECT doc_id FROM reps)
            GROUP BY source ORDER BY source
        """,
        "q10_chars_quantiles": """
            SELECT quantile_cont(n_chars, 0.25) AS p25,
                   quantile_cont(n_chars, 0.5)  AS p50,
                   quantile_cont(n_chars, 0.75) AS p75
            FROM documents
        """,
        "q11_ship_months": """
            SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS y,
                   CAST(EXTRACT(month FROM l_shipdate) AS INT) AS m,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_sum
            FROM lineitem GROUP BY y, m ORDER BY y, m
        """,
        "q12_part_brand_stats": """
            SELECT p_brand, COUNT(*) AS n, MAX(p_size) AS max_size,
                   CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
            FROM part GROUP BY p_brand ORDER BY p_brand
        """,
        "q13_supplier_nation": """
            SELECT n_name, COUNT(*) AS n_suppliers,
                   CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS acctbal_sum
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "q14_events_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
            FROM events GROUP BY day ORDER BY day
        """,
        "q15_orders_by_segment": """
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "q16_docs_quality": """
            WITH feats AS (
              SELECT lang,
                     len(string_split(text, ' ')) AS nw,
                     len(list_filter(string_split(text, ' '),
                         w -> list_contains(['the','a','of','and','to','in','is'], w))) AS ns
              FROM documents
            )
            SELECT lang, CAST(SUM(nw) AS BIGINT) AS words_sum, CAST(SUM(ns) AS BIGINT) AS stop_sum,
                   CAST(SUM(ns) AS DOUBLE) / SUM(nw) AS stop_ratio
            FROM feats GROUP BY lang ORDER BY lang
        """,
        "q17_semijoin_large_parts": """
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_sum
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
        """,
        "q18_embeddings_label_stats": """
            SELECT label, COUNT(*) AS n, CAST(SUM(len(embedding)) AS BIGINT) AS dims_sum
            FROM embeddings GROUP BY label ORDER BY label
        """,
        "q19_rollup_orders": """
            SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS priority,
                   COUNT(*) AS n
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY status, priority
        """,
        "q20_events_value_histogram": """
            SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket, COUNT(*) AS n
            FROM events GROUP BY bucket ORDER BY bucket
        """,
        "q21_user_sessions": """
            WITH marked AS (
              SELECT CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            SELECT CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
                   CAST(COUNT(*) AS DOUBLE) / SUM(new_session) AS events_per_session
            FROM marked
        """,
        "q22_set_ops": """
            WITH counts AS (
              SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
            ),
            hi AS (SELECT event_type FROM counts ORDER BY cnt DESC, event_type ASC LIMIT 1),
            lo AS (SELECT event_type FROM counts ORDER BY cnt ASC, event_type DESC LIMIT 1),
            u_hi AS (SELECT DISTINCT user_id FROM events WHERE event_type = (SELECT event_type FROM hi)),
            u_lo AS (SELECT DISTINCT user_id FROM events WHERE event_type = (SELECT event_type FROM lo)),
            both_u AS (SELECT user_id FROM u_hi INTERSECT SELECT user_id FROM u_lo)
            SELECT (SELECT event_type FROM hi) AS hi_type,
                   (SELECT event_type FROM lo) AS lo_type,
                   (SELECT COUNT(*) FROM both_u) AS users_both,
                   (SELECT COUNT(*) FROM u_hi) - (SELECT COUNT(*) FROM both_u) AS users_only_hi
        """,
        "q23_cube_lineitem": """
            SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   COUNT(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY rf, ls
        """,
        "q24_top3_events_per_type": """
            WITH ranked AS (
              SELECT event_type, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events
            )
            SELECT event_type, CAST(rn AS INT) AS rn, event_id, ROUND(value, 6) AS value
            FROM ranked WHERE rn <= 3 ORDER BY event_type, rn
        """,
        "q25_langid_counts": """
            WITH scored AS (
              SELECT len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['the','and','of','to','a','in','is'])) AS s_en,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['der','die','und','das','ist','nicht'])) AS s_de,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['le','la','et','les','des','est'])) AS s_fr,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['el','la','los','las','es','una'])) AS s_es
              FROM documents
            ),
            pred AS (
              SELECT CASE
                       WHEN GREATEST(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
                       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
                       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
                       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
                       ELSE 'es' END AS lang_pred
              FROM scored
            )
            SELECT lang_pred, COUNT(*) AS n FROM pred GROUP BY lang_pred ORDER BY lang_pred
        """,
        "q26_chars_quartiles_by_source": """
            WITH q AS (
              SELECT source, n_chars,
                     CAST(NTILE(4) OVER (PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS INT) AS quartile
              FROM documents
            )
            SELECT source, quartile, COUNT(*) AS n, MAX(n_chars) AS max_chars
            FROM q GROUP BY source, quartile ORDER BY source, quartile
        """,
        "q27_string_functions": """
            SELECT UPPER(SUBSTRING(p_name, 1, 3)) AS prefix,
                   COUNT(*) AS n,
                   CAST(SUM(LENGTH(p_name)) AS BIGINT) AS len_sum,
                   CAST(SUM(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS brass_n
            FROM part GROUP BY prefix ORDER BY prefix
        """,
        "q28_date_parts": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
                   CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
                   CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
                   COUNT(*) AS n
            FROM orders GROUP BY y, q, dom HAVING dom <= 3 ORDER BY y, q, dom
        """,
        "q29_math_functions": """
            SELECT CAST(FLOOR(SQRT(l_extendedprice)) AS BIGINT) AS sqrt_bucket,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(CEIL(l_discount) AS BIGINT)) AS BIGINT) AS ceil_disc_sum,
                   CAST(SUM(CAST(ABS(l_quantity - 25) AS BIGINT)) AS BIGINT) AS abs_dev_sum
            FROM lineitem GROUP BY sqrt_bucket ORDER BY sqrt_bucket
        """,
        "q30_json_extract": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
                   MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
                   MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
            FROM events GROUP BY event_type ORDER BY event_type
        """,
    }
