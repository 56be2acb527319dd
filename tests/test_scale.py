"""Scale-lever tests: bucketed co-located join (zero Exchange) and salted
skew join (row-identical to the plain join)."""

from __future__ import annotations

import pytest
from pathlib import Path
from pyspark.sql import functions as F

from etl_bom_radiation_spark import scale


@pytest.fixture()
def tables(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return li, o


def test_bucketed_join_no_exchange(spark, tables):
    """Both sides bucketed+sorted on the join key with the same bucket
    count -> SortMergeJoin with NO shuffle and NO sort above the scans."""
    li, o = tables
    scale.write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=8)
    scale.write_bucketed(o, "b_orders", "o_orderkey", num_buckets=8)
    try:
        joined = scale.bucketed_join(spark, "b_lineitem", "b_orders", "l_orderkey", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        # row parity with the plain (shuffling) join
        plain = li.join(o, li.l_orderkey == o.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_write_bucketed_recovers_from_orphaned_location(spark, tables):
    """Crash-leftover guard (r16): a kill between the managed table's
    directory creation and its catalog registration leaves a location
    with no table — saveAsTable then aborts with LOCATION_ALREADY_EXISTS
    forever, and mode="overwrite" can't recover (no catalog entry to
    overwrite). write_bucketed must clear the stale directory and
    succeed. Found live: the r16 bench loop's attempt-4 kill wedged
    every subsequent capture."""
    import os

    li, _ = tables
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    spark.sql("DROP TABLE IF EXISTS b_orphan_t")
    loc = os.path.join(warehouse, "b_orphan_t")
    os.makedirs(os.path.join(loc, "junk"), exist_ok=True)  # the orphan
    try:
        scale.write_bucketed(li, "b_orphan_t", "l_orderkey", num_buckets=4)
        assert spark.table("b_orphan_t").count() == li.count()
        # second overwrite over a REGISTERED table still works (the
        # guard must not touch a live table's location)
        scale.write_bucketed(li, "b_orphan_t", "l_orderkey", num_buckets=4)
        assert spark.table("b_orphan_t").count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orphan_t")


def test_salted_join_matches_plain_join(spark, tables):
    """Salting scatters the hot key across `salt` reducers without changing
    the join result."""
    li, o = tables
    plain = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    salted = scale.salted_join(li, o, "l_orderkey", "o_orderkey", salt=4).select(
        "l_orderkey", "l_quantity", "o_totalprice"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).isEmpty()
    assert plain.exceptAll(salted).isEmpty()


def test_salted_join_spreads_hot_key(spark):
    """A pathologically hot key ends up in `salt` distinct shuffle groups."""
    big = spark.range(10000).select(F.lit(1).alias("k"), F.col("id").alias("payload"))
    small = spark.createDataFrame([(1, "hot")], ["k2", "name"])
    out = scale.salted_join(big, small, "k", "k2", salt=8)
    assert out.count() == 10000  # no row lost or duplicated
    # the internal salt really takes >1 value for the single hot key
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8))
    )
    assert big_salted.select("_salt").distinct().count() == 8


def test_bucketed_q05_shape_no_exchange(spark, sf_dir):
    """The bench's q05_bucketed_join entry (filter + project on top of the
    co-located join) must stay Exchange-free: predicates/projections are
    narrow and cannot reintroduce a shuffle above the bucketed scans."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scale.write_bucketed(li, "b_li_q05", "l_orderkey", num_buckets=8)
    scale.write_bucketed(o, "b_o_q05", "o_orderkey", num_buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # model the fact-fact regime: at test SF the planner would rather
        # broadcast tiny orders (and skip the bucketed scan entirely);
        # at 100 TB neither side broadcasts — force that shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from bench import bucketed_q05_shape

        joined = bucketed_q05_shape(spark, "b_li_q05", "b_o_q05")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # zero shuffle, broadcast included
        assert "SortMergeJoin" in plan
        # parity with the declared (shuffling) q05 on the same inputs
        from etl_bom_radiation_spark.queries import load_all

        q05 = load_all()["q05_inner_join"]
        assert joined.count() == q05.fn(spark, sf_dir).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_li_q05")
        spark.sql("DROP TABLE IF EXISTS b_o_q05")


def test_global_sort_index_is_exact_permutation(spark):
    """Property test for the mono-id global position trick: positions are
    exactly 1..N and agree with the total sort order, including duplicate
    primary keys split only by the tiebreaker, empty range partitions,
    and — crucially — PAYLOAD columns beyond the sort keys (code-review
    r3: divergent column pruning across the forked branches used to
    mis-align positions silently; the localCheckpoint pins one
    partitioning)."""
    import random

    rng = random.Random(41)
    rows = [(i, rng.randrange(20) * 1.0, f"payload-{i%7}") for i in range(5000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["uid", "v", "extra"])
    out = scale.global_sort_index(
        df, F.col("v").desc(), F.col("uid").asc(), index_name="pos", num_partitions=16
    ).collect()
    assert sorted(r["pos"] for r in out) == list(range(1, 5001))
    by_pos = sorted(out, key=lambda r: r["pos"])
    assert [(r["v"], r["uid"]) for r in by_pos] == sorted(
        [(r["v"], r["uid"]) for r in out], key=lambda t: (-t[0], t[1])
    )
    # payload survives untouched
    assert all(r["extra"] == f"payload-{r['uid']%7}" for r in out)


def test_grouped_rank_index_matches_window_row_number(spark):
    """Property test for the per-class rank (VERDICT r11 #3): ranks must
    equal ``row_number() OVER (PARTITION BY class ORDER BY keys)`` row
    for row — including classes whose rows straddle range-partition
    boundaries (5 classes over 16 partitions force many straddles),
    duplicate sort values split only by the tiebreaker, and payload
    columns riding through the forked branches."""
    import random

    from pyspark.sql.window import Window

    rng = random.Random(43)
    rows = [
        (i, f"class-{rng.randrange(5)}", rng.randrange(50) * 1.0, f"pay-{i % 3}")
        for i in range(5000)
    ]
    # a NULL class is a real group under Window.partitionBy semantics —
    # null-unsafe equality in the offsets joins silently DROPPED these
    # rows (code-review r12; eqNullSafe throughout now)
    rows += [(5000 + i, None, float(i % 7), "pay-null") for i in range(200)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "uid long, cls string, v double, extra string")
    out = scale.grouped_rank_index(
        df,
        ["cls"],
        [F.col("v").desc(), F.col("uid").asc()],
        index_name="rn",
        num_partitions=16,
    )
    w = Window.partitionBy("cls").orderBy(F.col("v").desc(), F.col("uid").asc())
    want = df.select(
        "uid", "cls", "extra", F.row_number().over(w).cast("bigint").alias("rn")
    )
    got = {(r["uid"], r["cls"], r["extra"], r["rn"]) for r in out.collect()}
    assert got == {tuple(r) for r in want.collect()}
    # per-class ranks are exactly 1..|class|
    sizes = {r["cls"]: r["n"] for r in df.groupBy("cls").count().withColumnRenamed("count", "n").collect()}
    by_cls: dict[str, list[int]] = {}
    for uid, cls, _extra, rn in got:
        by_cls.setdefault(cls, []).append(rn)
    for cls, rns in by_cls.items():
        assert sorted(rns) == list(range(1, sizes[cls] + 1)), cls


def test_grouped_rank_index_edge_cases(spark):
    """Empty input, one partition, more partitions than rows, and a
    single-row class must all produce exact per-class 1..N ranks."""
    empty = spark.createDataFrame([], "k long, c string, v double")
    assert (
        scale.grouped_rank_index(empty, ["c"], [F.col("v").asc(), F.col("k").asc()]).count()
        == 0
    )
    tiny = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 3.0), (3, "b", 9.0)], ["k", "c", "v"]
    )
    for nparts in (1, 8):
        got = {
            (r["k"], r["rn"])
            for r in scale.grouped_rank_index(
                tiny, ["c"], [F.col("v").asc(), F.col("k").asc()], num_partitions=nparts
            ).collect()
        }
        assert got == {(2, 1), (1, 2), (3, 1)}, nparts


def test_global_sort_index_edge_cases(spark):
    """Empty input, a single range partition, and more partitions than rows
    (some partitions empty) must all produce exact 1..N positions."""
    empty = spark.createDataFrame([], "k long, v double")
    assert scale.global_sort_index(empty, F.col("v").asc(), F.col("k").asc()).count() == 0

    tiny = spark.createDataFrame([(1, 5.0), (2, 3.0), (3, 9.0)], ["k", "v"])
    one_part = scale.global_sort_index(
        tiny, F.col("v").asc(), F.col("k").asc(), num_partitions=1
    ).collect()
    assert {(r["k"], r["pos"]) for r in one_part} == {(2, 1), (1, 2), (3, 3)}

    sparse = scale.global_sort_index(
        tiny, F.col("v").desc(), F.col("k").asc(), num_partitions=8
    ).collect()
    assert {(r["k"], r["pos"]) for r in sparse} == {(3, 1), (1, 2), (2, 3)}


def test_grouped_rank_index_total_name(spark):
    """total_name attaches the exact per-class row count on every row
    (q23c's second NTILE input), including boundary-straddling classes
    and the NULL class, with no extra fact pass (carried by the same
    broadcast offsets join)."""
    import random

    rng = random.Random(47)
    rows = [(i, f"c{rng.randrange(4)}", rng.randrange(30) * 1.0) for i in range(3000)]
    rows += [(3000 + i, None, float(i)) for i in range(37)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, cls string, v double")
    out = scale.grouped_rank_index(
        df,
        ["cls"],
        [F.col("v").asc(), F.col("k").asc()],
        num_partitions=16,
        total_name="tot",
    ).collect()
    sizes: dict = {}
    for _k, cls, _v in rows:
        sizes[cls] = sizes.get(cls, 0) + 1
    assert len(out) == len(rows)
    for r in out:
        assert r["tot"] == sizes[r["cls"]], (r["cls"], r["tot"])
        assert 1 <= r["rn"] <= r["tot"]


def test_index_helpers_reject_reserved_column_collisions(spark):
    """ADVICE r12: an input column named like an internal helper (_mid,
    _pid, ...) or like the requested index_name was silently overwritten
    by withColumn — now refused loudly."""
    import pytest

    bad_mid = spark.createDataFrame([(1, 2.0, 9)], ["k", "v", "_mid"])
    with pytest.raises(ValueError, match="_mid"):
        scale.global_sort_index(bad_mid, F.col("v").asc(), F.col("k").asc())
    with pytest.raises(ValueError, match="_mid"):
        scale.grouped_rank_index(bad_mid, ["k"], [F.col("v").asc()])
    # index_name collision: the default 'rn' on grouped_rank_index
    bad_rn = spark.createDataFrame([(1, "a", 2.0, 9)], ["k", "c", "v", "rn"])
    with pytest.raises(ValueError, match="rn"):
        scale.grouped_rank_index(bad_rn, ["c"], [F.col("v").asc(), F.col("k").asc()])
    # total_name collision
    bad_tot = spark.createDataFrame([(1, "a", 2.0, 9)], ["k", "c", "v", "tot"])
    with pytest.raises(ValueError, match="tot"):
        scale.grouped_rank_index(
            bad_tot, ["c"], [F.col("v").asc(), F.col("k").asc()], total_name="tot"
        )
    # group-col-derived helper names (_q_<c>/_o_<c>/_t_<c>)
    bad_q = spark.createDataFrame([(1, "a", 2.0, 9)], ["k", "c", "v", "_q_c"])
    with pytest.raises(ValueError, match="_q_c"):
        scale.grouped_rank_index(bad_q, ["c"], [F.col("v").asc(), F.col("k").asc()])
    # clean inputs still work unchanged
    ok = spark.createDataFrame([(1, "a", 2.0)], ["k", "c", "v"])
    assert scale.grouped_rank_index(ok, ["c"], [F.col("v").asc()]).count() == 1
    # parameter-level collisions (second review r13): an internal-name
    # index_name would be deleted by the final drop; total_name ==
    # index_name would be silently replaced by the rank withColumn
    with pytest.raises(ValueError, match="internal helper name"):
        scale.global_sort_index(ok, F.col("v").asc(), index_name="_rn")
    with pytest.raises(ValueError, match="internal helper name"):
        scale.grouped_rank_index(ok, ["c"], [F.col("v").asc()], index_name="_seq")
    with pytest.raises(ValueError, match="index_name"):
        scale.grouped_rank_index(
            ok, ["c"], [F.col("v").asc()], index_name="rn", total_name="rn"
        )
    with pytest.raises(ValueError, match="internal helper name"):
        scale.grouped_rank_index(
            ok, ["c"], [F.col("v").asc()], total_name="_gmin"
        )


def test_truncation_dedup_hot_bucket_aqe_skew_split(spark, tmp_path):
    """The dedup family's documented skew lever, exercised (VERDICT r4 #3):
    a corpus where 1500 docs share one prefix-8 opening puts n_hot² verify
    pairs into a single shuffle partition of n32's bucket self-join.  With
    the skew thresholds scaled to fixture size, AQE's OptimizeSkewedJoin
    must actually split that partition — the final adaptive plan carries
    SortMergeJoin(skew=true) over 'coalesced and skewed' shuffle reads —
    and the result must still be exact (each planted truncation found,
    exactly once, nothing else)."""
    from etl_bom_radiation_spark.queries import load_all

    qs = load_all()
    scale.gen_skewed_documents(spark, str(tmp_path))
    saved = {k: spark.conf.get(k) for k in scale.SKEW_SPLIT_CONF}
    try:
        for k, v in scale.SKEW_SPLIT_CONF.items():
            spark.conf.set(k, v)
        df = qs["n32_truncation_dedup"].fn(spark, str(tmp_path))
        rows = df.collect()  # drive THIS Dataset's queryExecution to final
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "isFinalPlan=true" in p
    assert "skew=true" in p, f"AQE skew split did not fire:\n{p}"
    assert "skewed" in p  # AQEShuffleRead coalesced and skewed
    # exactness under the split: the 100 planted 16-token truncations of
    # hot docs 0..99, each contained in exactly its source doc
    assert len(rows) == 100
    base = 1500 + 2000
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == set(range(base, base + 100))
    for r in rows:
        assert r["n_tokens"] == 16
        assert r["n_containers"] == 1
        assert r["min_container"] == r["doc_id"] - base


def test_bucketed_digest_anti_join_no_exchange(spark, sf_dir):
    """n31's documented zero-shuffle lever, exercised: with the corpus
    digest snapshot AND the incoming batch both bucketed on the digest,
    the admission LEFT ANTI join reads co-located buckets — no Exchange on
    either side.  At 100 TB this removes the only big shuffle the
    incremental merge has (the corpus side; the batch side is small but
    bucketing it too keeps the join exchange-free instead of one-sided)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = d.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("h")).distinct()
    batch = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("bh")
    )
    scale.write_bucketed(corpus, "b_corpus_digest", "h", num_buckets=8)
    scale.write_bucketed(
        batch.withColumnRenamed("bh", "h"), "b_batch_digest", "h", num_buckets=8
    )
    # disable broadcast: at test SF the digest side fits the 10 MB
    # threshold and a BroadcastHashJoin(LeftAnti) would make the
    # no-Exchange assert pass VACUOUSLY without exercising bucketing at
    # all (code-review r5; same trap test_bucketed_q05_shape_no_exchange
    # documents) — at 100 TB neither side broadcasts
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        admitted = spark.table("b_batch_digest").join(
            spark.table("b_corpus_digest"), "h", "left_anti"
        )
        plan = admitted._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located buckets
        # row parity with the plain (shuffling) anti join
        plain = batch.join(corpus, batch.bh == corpus.h, "left_anti")
        assert admitted.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_corpus_digest")
        spark.sql("DROP TABLE IF EXISTS b_batch_digest")


def test_zorder_key_matches_python_interleave(spark):
    """scale.zorder_key vs an independent Python bit-interleave model on a
    lattice of quantized coordinates (including non-multiples that exercise
    the rounding step)."""
    pts = [
        (110.0 + 0.125 * ix, -47.0 + 0.125 * iy) for ix in range(9) for iy in range(9)
    ] + [(111.3, -44.7), (113.07, -42.51)]
    df = spark.createDataFrame(pts, "x double, y double")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", scale.zorder_key(F.col("x"), F.col("y"), 110.0, -47.0, 0.125).alias("z")
        ).collect()
    }

    def interleave(xi: int, yi: int) -> int:
        z = 0
        for b in range(16):
            z |= ((xi >> b) & 1) << (2 * b)
            z |= ((yi >> b) & 1) << (2 * b + 1)
        return z

    for (x, y), z in got.items():
        # Python's round() is banker's; the engines round half away from
        # zero — the non-lattice probe points are chosen off the .5
        # boundary so both agree
        xi = int(round((x - 110.0) / 0.125))
        yi = int(round((y - (-47.0)) / 0.125))
        assert z == interleave(xi, yi), (x, y)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The clustered-write lever behind bench's cluster_scan_* pair, proved
    from parquet footer statistics instead of timing.

    The honest metric is NOT envelope area — equal-count row groups cover
    ~equal area under any layout — it is that a single-dimension sort
    privileges its dimension: a predicate on the OTHER dimension intersects
    every row group's envelope (zero pruning), while the Z-order layout
    serves strip predicates on EITHER dimension from a small fraction of
    row groups. Computed directly from the footers' min/max stats (the
    exact information the reader's row-group filter uses), plus a
    result-parity check between the layouts."""
    import glob as g

    import pyarrow.parquet as pq

    n_side = 400  # 160k points on a 400x400 lattice, 4 deg x 4 deg
    base = (
        spark.range(n_side * n_side)
        .select(
            (110.0 + (F.col("id") % n_side) * 0.01).alias("lon"),
            (-46.0 + (F.col("id") / n_side).cast("long") * 0.01).alias("lat"),
            (F.col("id") % 997).alias("val"),
        )
    )
    lin_dir, z_dir = str(tmp_path / "lin"), str(tmp_path / "zord")
    base.repartitionByRange(64, "lon").sortWithinPartitions("lon").write.parquet(
        lin_dir
    )
    zk = scale.zorder_key(F.col("lon"), F.col("lat"), 110.0, -47.0, 0.0078125)
    base.withColumn("zk", zk).repartitionByRange(64, "zk").sortWithinPartitions(
        "zk"
    ).drop("zk").write.parquet(z_dir)

    def envelopes(d):
        out = []
        for f in g.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                stats = {}
                row = md.row_group(rg)
                for c in range(row.num_columns):
                    col = row.column(c)
                    if col.path_in_schema in ("lon", "lat") and col.statistics:
                        stats[col.path_in_schema] = (
                            col.statistics.min,
                            col.statistics.max,
                        )
                if len(stats) == 2:
                    out.append((stats["lon"], stats["lat"]))
        return out

    def hit_fraction(envs, lon_rng=None, lat_rng=None):
        def overlaps(mm, rng):
            return rng is None or (mm[0] <= rng[1] and mm[1] >= rng[0])

        hits = sum(
            1 for lon_mm, lat_mm in envs
            if overlaps(lon_mm, lon_rng) and overlaps(lat_mm, lat_rng)
        )
        return hits / len(envs)

    lin_e, z_e = envelopes(lin_dir), envelopes(z_dir)
    assert len(lin_e) >= 32 and len(z_e) >= 32
    lon_strip = (112.0, 112.1)
    lat_strip = (-44.05, -43.95)
    # the privileged dimension prunes well under BOTH layouts…
    assert hit_fraction(lin_e, lon_rng=lon_strip) < 0.25
    assert hit_fraction(z_e, lon_rng=lon_strip) < 0.5
    # …but the unprivileged one collapses the linear layout (reads ~all
    # groups) while the Z-order layout still serves it from a fraction
    assert hit_fraction(lin_e, lat_rng=lat_strip) > 0.9
    assert hit_fraction(z_e, lat_rng=lat_strip) < 0.5
    # layouts are equivalent as tables: same bbox aggregation result
    box = (
        (F.col("lon") >= 112.0)
        & (F.col("lon") < 112.2)
        & (F.col("lat") >= -45.0)
        & (F.col("lat") < -44.8)
    )
    agg = lambda d: spark.read.parquet(d).filter(box).agg(
        F.count(F.lit(1)), F.sum("val")
    ).collect()[0]
    assert tuple(agg(lin_dir)) == tuple(agg(z_dir))


def test_ivf_partitioned_probe_uses_dynamic_partition_pruning(spark, tmp_path, oracle_sf_dir):
    """The IVF storage lever: probing an IVF-partitioned embedding layout
    must (a) carry a Catalyst dynamic-partition-pruning subquery on the
    index scan — the probe-cell frame is a DataFrame, never collected —
    and (b) return exactly the full scan restricted to the same cells
    (ranking is the shared exact cosine, so only the cell restriction can
    differ)."""
    from etl_bom_radiation_spark import scale
    from etl_bom_radiation_spark.queries.ivf_eval import (
        base_vectors,
        cell_scores,
        centroid_frame,
        quantize,
    )
    from etl_bom_radiation_spark.queries.llm_queries import _cosine

    idx_dir = str(tmp_path / "ivf_idx")
    scale.write_ivf_index(spark, oracle_sf_dir, idx_dir)

    pruned = scale.ivf_probe_topk(spark, idx_dir, oracle_sf_dir, nprobe=4, k=10)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan

    # reference: static restriction to the SAME probe cells (test-side
    # collect is fine here), same exact ranking expression
    e = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    base = base_vectors(e)
    quant = quantize(base)
    scored_q = cell_scores(quant.filter(F.col("vec_id") == 0), centroid_frame(quant))
    cells = [
        r.cell
        for r in scored_q.orderBy(F.col("dp").desc(), F.col("cell").asc())
        .limit(4)
        .collect()
    ]
    idx = spark.read.parquet(idx_dir)
    q0 = base.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv0"))
    want = (
        idx.filter(F.col("cell").isin(cells))
        .crossJoin(F.broadcast(q0))
        .select("vec_id", F.round(_cosine(F.col("v"), F.col("qv0")), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    got = pruned.collect()
    assert [(r.vec_id, r.sim) for r in got] == [(r.vec_id, r.sim) for r in want]
    # the probe really is sub-linear: candidate cells hold less than half
    # the corpus at nprobe=4 of 16 cells
    n_cand = idx.filter(F.col("cell").isin(cells)).count()
    assert 0 < n_cand < idx.count() / 2


def test_runtime_bloom_filter_join_lever(spark, oracle_sf_dir):
    """RUNTIME_BLOOM_CONF makes Catalyst seed a bloom filter from the
    selective build side of a shuffle join and push might_contain onto
    the probe scan — probe rows that cannot join die before the shuffle.
    Asserts the rewrite actually fires and does not change the result."""

    def _join():
        li = spark.read.parquet(f"{oracle_sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{oracle_sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        return (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    want = {(r.o_orderpriority, r.n) for r in _join().collect()}
    prev = {k: spark.conf.get(k, None) for k in scale.RUNTIME_BLOOM_CONF}
    try:
        for k, v in scale.RUNTIME_BLOOM_CONF.items():
            spark.conf.set(k, v)
        j = _join()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == want


def test_concurrent_declared_queries_share_one_session(spark, oracle_sf_dir):
    """Operational contract: one SparkSession serves concurrent declared
    queries from multiple threads (the shared-driver reality of a
    production cluster) with results identical to serial runs — catches
    any hidden per-query global state (temp-view clobbering, conf races)
    in the registry machinery."""
    import concurrent.futures

    from etl_bom_radiation_spark.queries import load_all

    qs = load_all()
    names = [
        "q14_groupby_agg",
        "q05_inner_join",
        "n05_text_stats",
        "x04_sessionization",
    ]
    serial = {n: qs[n].fn(spark, oracle_sf_dir).count() for n in names}
    with concurrent.futures.ThreadPoolExecutor(len(names)) as ex:
        futures = {
            n: ex.submit(lambda n=n: qs[n].fn(spark, oracle_sf_dir).count())
            for n in names
        }
        parallel = {n: f.result() for n, f in futures.items()}
    assert parallel == serial


def test_banded_lsh_bucket_cap_bounds_saturated_corpus(spark, tmp_path):
    """The BUCKET_CAP saturation guard (found by tools/scaling_probe.py):
    a corpus whose band buckets saturate — here 300 identical docs — must
    produce a BOUNDED candidate set (<= C(cap,2) per saturated cluster,
    not C(300,2) ~ 45k), while genuine near-dup pairs outside the
    saturated mass are still found."""
    from etl_bom_radiation_spark.queries import load_all
    from etl_bom_radiation_spark.queries.banded_lsh import BUCKET_CAP

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, "common boiler plate text repeated verbatim always", "en", "web", 0)
            for i in range(300)]
    rows += [
        (1000, base + " one two three", "en", "web", 0),
        (1001, base + " one two four", "en", "web", 0),  # near-dup of 1000
    ]
    d = str(tmp_path / "sat")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = load_all()["n42_minhash_banded_lsh"].fn(spark, d).collect()
    cap_pairs = BUCKET_CAP * (BUCKET_CAP - 1) // 2
    sat = [r for r in out if r.doc_a < 300 and r.doc_b < 300]
    assert 0 < len(sat) <= cap_pairs, len(sat)
    # every surviving saturated pair is among the cap's lowest doc_ids
    assert all(r.doc_b < BUCKET_CAP for r in sat)
    # the genuine near-dup outside the saturated mass is still caught
    assert any((r.doc_a, r.doc_b) == (1000, 1001) and r.is_near_dup == 1 for r in out)


def test_scaling_probe_generator_invariants(spark, tmp_path):
    """The probe's synthetic corpus must keep the properties the scaling
    ratios depend on: exact row counts, ~10% duplicated texts, shared
    openings in SMALL groups (many buckets — a single corpus-wide opening
    would be the pathological hot bucket and would invalidate every
    ratio), and realistic token diversity (>> the fixtures' 24 words)."""
    import sys

    sys.path.insert(0, "tools")
    from scaling_probe import BASE_DOCS, gen_corpus

    d = str(tmp_path / "probe")
    gen_corpus(spark, d, 1)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    assert docs.count() == BASE_DOCS
    n_dup = docs.count() - docs.select("text").distinct().count()
    assert 0.08 * BASE_DOCS <= n_dup <= 0.12 * BASE_DOCS
    # opening-bucket sizes: grouped syndication, never a mega-bucket
    op = docs.selectExpr("substring_index(text, ' ', 8) AS opening")
    sizes = op.groupBy("opening").count()
    assert sizes.agg(F.max("count")).collect()[0][0] <= 12
    n_tokens = docs.selectExpr("explode(split(text, ' ')) AS t").select(
        "t"
    ).distinct().count()
    assert n_tokens > 1000


def test_scale_levers_lifecycle_fences(spark, oracle_sf_dir):
    """d02: every boolean fence row is 1 and every pruning row records a
    REAL reduction — the manifest consult must keep some and drop some
    files for the pinned box, and the IVF probe must scan a strict
    subset of the layout (the rows the driver records as evidence that
    the 100-TB levers prune, not just run)."""
    from etl_bom_radiation_spark.queries import load_all

    vals = {
        r["step"]: r["value"]
        for r in load_all()["d02_scale_levers_lifecycle"]
        .fn(spark, oracle_sf_dir)
        .collect()
    }
    for fence in (
        "03_manifest_covers_every_file",
        "09_box_match_pruned_equal",
        "10_refresh_added_only_new",
        "13_box_match_pruned_after_equal",
        "17_ann_dpp_in_plan_and_exact",
    ):
        assert vals[fence] == 1, fence
    assert 0 < vals["05_box_files_pruned"] < vals["04_box_files_full"]
    assert (
        vals["08_box_match_full"]
        <= vals["07_box_rows_scanned_pruned"]
        < vals["06_box_rows_scanned_full"]
    )
    # post-append re-prune (VERDICT r7 #5): the refreshed manifest still
    # prunes — the appended twin layout doubles both the table and the
    # selected set, which stays a strict subset
    assert vals["11_box_files_full_after_append"] == 2 * vals["04_box_files_full"]
    assert (
        vals["05_box_files_pruned"]
        < vals["12_box_files_pruned_after_refresh"]
        < vals["11_box_files_full_after_append"]
    )
    assert 0 < vals["16_ann_rows_probed"] < vals["15_ann_rows_full"]
    assert vals["14_ivf_cells"] == 16


def test_compaction_lifecycle_fences(spark, oracle_sf_dir):
    """d03: the fan-out write must genuinely multiply files (the lever a
    coalesced plan silently undoes — observed with an un-numbered
    repartition), compaction must fold EVERY multi-file partition to one
    file while preserving rows and the content checksum, and the second
    run must be a no-op."""
    from etl_bom_radiation_spark.queries import load_all

    vals = {
        r["step"]: r["value"]
        for r in load_all()["d03_compaction_lifecycle"]
        .fn(spark, oracle_sf_dir)
        .collect()
    }
    for fence in (
        "03_fanout_multiplied_files",
        "07_compacted_every_multifile",
        "09_one_file_per_partition",
        "10_rows_and_checksum_preserved",
        "11_second_run_noop",
    ):
        assert vals[fence] == 1, fence
    assert vals["02_files_written"] > vals["01_partition_dirs"]
    assert vals["08_files_after"] == vals["01_partition_dirs"]
    assert vals["04_rows_before"] > 0


def test_persisted_lsh_index_matches_oneshot_query(spark, tmp_path, oracle_sf_dir):
    """lsh_index.build/probe is the production form of n49: building the
    index from the n49 index side (doc_id % 10 != 7) and probing the n49
    shard must reproduce the hash-verified one-shot query's rows EXACTLY
    — one shared shard_verdicts implementation, parity locked here. The
    probe plan must also keep the incremental contract: the index parquet
    is scanned, never shuffled (no SortMergeJoin), and the batch side
    broadcasts."""
    from pyspark.sql import functions as F

    from etl_bom_radiation_spark.lsh_index import build_lsh_index, probe_lsh_index
    from etl_bom_radiation_spark.queries import load_all

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    idx_docs = docs.filter((F.col("doc_id") % 10) != 7)
    batch = docs.filter((F.col("doc_id") % 10) == 7)
    d = str(tmp_path / "lshidx")
    build_lsh_index(spark, idx_docs, d)
    got = probe_lsh_index(spark, d, batch)
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p

    want = load_all()["n49_incremental_lsh_dedup"].fn(spark, oracle_sf_dir)
    key = lambda r: (
        r.doc_id, r.n_index_cand, r.n_shard_cand, r.best_jaccard, r.decision
    )
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def _docs_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _index_rows(spark, d):
    bands = sorted(
        (r.doc_id, r.band, r.bk)
        for r in spark.read.parquet(f"{d}/bands.parquet").collect()
    )
    hsets = sorted(
        (r.doc_id, tuple(sorted(r.hs)))
        for r in spark.read.parquet(f"{d}/hsets.parquet").collect()
    )
    return bands, hsets


def test_update_lsh_index_rebuild_parity(spark, tmp_path, sf_dir):
    """Folding an admitted batch into the persisted index (append + local
    cap gate) must produce EXACTLY the tables a from-scratch rebuild over
    the union would: the cap keeps the BUCKET_CAP lowest doc_ids per
    bucket and append-only ids can never evict existing members. Checked
    on the real corpus AND on a saturated synthetic bucket (70 identical
    docs vs cap 64 — the occupancy-aware gate must admit only up to the
    cap, exercising the occ + rn > cap branch)."""
    from etl_bom_radiation_spark.lsh_index import (
        build_lsh_index,
        probe_lsh_index,
        update_lsh_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.8], 0.0)[0]
    initial = docs.filter(F.col("doc_id") <= cut)
    batch = docs.filter(F.col("doc_id") > cut)

    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    build_lsh_index(spark, initial, inc_dir)
    assert update_lsh_index(spark, inc_dir, batch) == batch.count()
    build_lsh_index(spark, initial.unionByName(batch), full_dir)
    assert _index_rows(spark, inc_dir) == _index_rows(spark, full_dir)

    # saturated bucket: 70 identical docs, cap is 64 — update must admit
    # only ids 61..64 into each band bucket (occupancy 60 + rank <= 4)
    same = "the quick brown fox jumps over the lazy dog again and again"
    sat_inc, sat_full = str(tmp_path / "sinc"), str(tmp_path / "sfull")
    first = _docs_frame(spark, [(i, same) for i in range(1, 61)])
    extra = _docs_frame(spark, [(i, same) for i in range(61, 71)])
    build_lsh_index(spark, first, sat_inc)
    update_lsh_index(spark, sat_inc, extra)
    build_lsh_index(spark, first.unionByName(extra), sat_full)
    assert _index_rows(spark, sat_inc) == _index_rows(spark, sat_full)
    got = spark.read.parquet(f"{sat_inc}/bands.parquet")
    assert got.filter(F.col("doc_id") > 64).count() == 0  # cap respected
    assert got.filter(F.col("doc_id").isin(61, 62, 63, 64)).count() > 0

    # and the probe sees the same world through either index
    probe = _docs_frame(spark, [(1000, same)])
    kp = lambda r: (r.doc_id, r.n_index_cand, r.best_jaccard, r.decision)
    assert sorted(map(kp, probe_lsh_index(spark, sat_inc, probe).collect())) == sorted(
        map(kp, probe_lsh_index(spark, sat_full, probe).collect())
    )


def test_update_lsh_index_admits_future_dups(spark, tmp_path):
    """The lifecycle the API exists for: a doc ADMITTED in batch 1 must
    cause its near-dup arriving in batch 2 to be dropped — and would NOT
    have been dropped against the un-updated index."""
    from etl_bom_radiation_spark.lsh_index import (
        build_lsh_index,
        probe_lsh_index,
        update_lsh_index,
    )

    base = _docs_frame(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
    )
    d = str(tmp_path / "idx")
    build_lsh_index(spark, base, d)

    novel = "completely novel arrival text about spark shuffles and broadcast joins"
    b1 = _docs_frame(spark, [(100, novel)])
    v1 = {r.doc_id: r.decision for r in probe_lsh_index(spark, d, b1).collect()}
    assert v1 == {100: "keep"}

    neardup = "completely novel arrival text about spark shuffles and union joins"
    b2 = _docs_frame(spark, [(200, neardup)])
    # against the un-updated index the near-dup of doc 100 sails through
    before = {r.doc_id: r.decision for r in probe_lsh_index(spark, d, b2).collect()}
    assert before == {200: "keep"}

    update_lsh_index(spark, d, b1)  # fold the admitted doc in
    after = probe_lsh_index(spark, d, b2).collect()
    assert {r.doc_id: r.decision for r in after} == {200: "drop_index_dup"}
    assert after[0].n_index_cand >= 1 and after[0].best_jaccard >= 0.35


def test_update_lsh_index_rejects_out_of_order_ids(spark, tmp_path):
    """The append-only id precondition is CHECKED, not assumed: a batch
    whose min id does not exceed the indexed high-water mark would need
    to evict persisted rows (a rewrite), so the fold refuses."""
    from etl_bom_radiation_spark.lsh_index import build_lsh_index, update_lsh_index

    base = _docs_frame(spark, [(10, "some indexed document text here")])
    d = str(tmp_path / "idx")
    build_lsh_index(spark, base, d)
    stale = _docs_frame(spark, [(5, "an out of order arrival")])
    with pytest.raises(ValueError, match="append-only"):
        update_lsh_index(spark, d, stale)
    # empty batch is a no-op, not an error
    empty = _docs_frame(spark, [])
    assert update_lsh_index(spark, d, empty) == 0

    # admit_batch fails FAST on the same precondition — before any
    # sub-batch folds, so a split admission can never stop half-folded
    # (here: id 5 is stale but 11/12 are foldable; nothing must land)
    from etl_bom_radiation_spark.lsh_index import admit_batch

    mixed = _docs_frame(
        spark,
        [
            (5, "an out of order arrival"),
            (11, "a perfectly foldable arrival text"),
            (12, "another perfectly foldable arrival text"),
        ],
    )
    pre = _index_rows(spark, d)
    with pytest.raises(ValueError, match="append-only"):
        admit_batch(spark, d, mixed, max_docs=1)
    assert _index_rows(spark, d) == pre  # nothing folded


def test_probe_lsh_index_rearrival_not_inflated(spark, tmp_path):
    """A doc_id present in both the index and the batch (re-arrival) is
    judged against the index MINUS itself: without the defensive
    anti-joins the verify join would pair the doc with its own indexed
    generation (self-Jaccard 1.0 -> spurious drop_index_dup) and fan out
    candidate counts (ADVICE r8)."""
    from etl_bom_radiation_spark.lsh_index import build_lsh_index, probe_lsh_index

    base = _docs_frame(
        spark,
        [
            (1, "unique document about gradient descent and learning rates"),
            (2, "unrelated text on parquet row group statistics pruning"),
        ],
    )
    d = str(tmp_path / "idx")
    build_lsh_index(spark, base, d)
    rearrival = _docs_frame(
        spark, [(1, "unique document about gradient descent and learning rates")]
    )
    rows = probe_lsh_index(spark, d, rearrival).collect()
    assert {r.doc_id: r.decision for r in rows} == {1: "keep"}
    assert rows[0].n_index_cand == 0  # its own indexed copy is excluded


def test_d04_lsh_index_lifecycle_fences(spark, oracle_sf_dir):
    """The d04 entry's own fences, pinned so a regression fails CI before
    the driver sees it (the d03 convention): fold==keeps, band+hset
    rebuild parity, probe equivalence on folded vs rebuilt, refold
    refused by the append-only id guard, compaction layout-only
    (one file per table, rows conserved, probe bit-identical) and
    vacuum a no-op on the healthy compacted index."""
    from etl_bom_radiation_spark.queries import load_all

    vals = {
        r["step"]: r["value"]
        for r in load_all()["d04_lsh_index_lifecycle"]
        .fn(spark, oracle_sf_dir)
        .collect()
    }
    for fence in (
        "07_fold_only_keeps",
        "08_bands_parity_with_rebuild",
        "09_hsets_parity_with_rebuild",
        "11_probe2_equal_on_folded_vs_rebuilt",
        "12_refold_refused_by_id_guard",
        "13_compact_to_one_file_per_table",
        "14_compact_rows_conserved",
        "15_probe2_equal_after_compaction",
        "16_vacuum_after_compaction_noop",
    ):
        assert vals[fence] == 1, fence
    assert vals["06_folded_docs"] == vals["03_probe1_keep"] > 0
    assert vals["02_probe1_docs"] > 0 and vals["10_probe2_docs"] > 0


def test_admit_batch_subbatching_matches_oneshot_on_real_corpus(
    spark, tmp_path, oracle_sf_dir
):
    """admit_batch(max_docs=N) — the broadcast-envelope splitter — must
    reproduce the one-shot probe-and-fold EXACTLY on the real corpus:
    same verdicts, same admitted set, final index tables row-identical
    (the fixture has no near-dup chain crossing a sub-batch boundary
    through a dropped doc, so the contract's identical-admission case
    applies).  The one-shot admit itself must equal the MANUAL
    probe_lsh_index -> update_lsh_index sequence — admit's sketch-once
    internals (shared _probe_frames/_fold_frames) cannot drift from the
    public two-call path."""
    from etl_bom_radiation_spark.lsh_index import (
        admit_batch,
        build_lsh_index,
        probe_lsh_index,
        update_lsh_index,
    )

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    mx = docs.agg(F.max("doc_id")).first()[0]
    initial = docs.filter(F.col("doc_id") <= (mx * 8) // 10)
    batch = docs.filter(F.col("doc_id") > (mx * 8) // 10)
    one, sub, man = str(tmp_path / "one"), str(tmp_path / "sub"), str(tmp_path / "man")
    for d in (one, sub, man):
        build_lsh_index(spark, initial, d)

    v_one = admit_batch(spark, one, batch)  # single probe+fold
    n = batch.count()
    v_sub = admit_batch(spark, sub, batch, max_docs=max(1, n // 3))  # 3 subs
    v_man = probe_lsh_index(spark, man, batch).localCheckpoint()
    update_lsh_index(
        spark,
        man,
        batch.join(v_man.filter("decision = 'keep'").select("doc_id"), "doc_id"),
    )

    rows = lambda v: sorted(map(tuple, v.collect()))
    assert rows(v_one) == rows(v_man)
    keeps = lambda v: sorted(
        r.doc_id for r in v.filter("decision = 'keep'").collect()
    )
    assert keeps(v_sub) == keeps(v_one)
    assert _index_rows(spark, sub) == _index_rows(spark, one)
    assert _index_rows(spark, man) == _index_rows(spark, one)


def test_admit_batch_chain_divergence_is_admissive_never_lossy(spark, tmp_path):
    """The documented divergence cases, pinned.

    Dropped link: I indexed, batch = [A, B] with A a near-dup of I
    (J~0.52), B a near-dup of A (J~0.52) but NOT of I (J~0.23 < 0.35).
    One-shot drops BOTH (A: index dup; B: shard dup of A — pairwise n49
    semantics, even though A itself was dropped).  Split so A and B land
    in different sub-batches: A drops, is NOT folded, and B — judged
    only against the index + folded keepers — flips to keep.
    Sub-batching must only ever flip drop -> keep (never lose a doc
    one-shot admits), and the admitted set must stay near-dup-free: B
    admitted alone satisfies it (B is not a verified near-dup of I).

    Kept link: batch = [A, A'] with A novel and A' an exact copy.  A is
    kept either way; one-shot drops A' as a shard dup of A.  The split
    folds A first, so the next sub-batch, reading the committed index,
    must find A there: A' is drop_index_dup with an index candidate."""
    from etl_bom_radiation_spark.lsh_index import admit_batch, build_lsh_index

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()
    a = list(base)
    a[3], a[8], a[14] = "dolphin", "iguana", "ostrich"
    b = list(a)
    b[5], b[11], b[17] = "falcon", "lemur", "rhino"
    novel = (
        "amber basil cedar dune ember fern grove harbor iris jade "
        "kelp lotus maple nectar olive pearl quartz river sage thyme"
    ).split()
    seed = _docs_frame(spark, [(1, " ".join(base))])

    def admit(tag, first, second):
        batch = _docs_frame(spark, [(10, " ".join(first)), (20, " ".join(second))])
        one, sub = str(tmp_path / f"{tag}_one"), str(tmp_path / f"{tag}_sub")
        build_lsh_index(spark, seed, one)
        build_lsh_index(spark, seed, sub)
        v_one = admit_batch(spark, one, batch).collect()
        v_sub = admit_batch(spark, sub, batch, max_docs=1).collect()
        bands = spark.read.parquet(f"{sub}/bands.parquet")
        sub_ids = sorted(
            r.doc_id for r in bands.select("doc_id").distinct().collect()
        )
        return v_one, v_sub, sub_ids

    dec = lambda rows: {r.doc_id: r.decision for r in rows}
    keeps = lambda rows: {r.doc_id for r in rows if r.decision == "keep"}

    v_one, v_sub, sub_ids = admit("dropped", a, b)
    assert dec(v_one) == {10: "drop_index_dup", 20: "drop_shard_dup"}
    assert dec(v_sub) == {10: "drop_index_dup", 20: "keep"}
    # never lossy: every one-shot keep is a sub-batched keep
    assert keeps(v_one) <= keeps(v_sub)
    # the folded index reflects exactly the sub-batched admission
    assert sub_ids == [1, 20]

    v_one, v_sub, sub_ids = admit("kept", novel, novel)
    assert dec(v_one) == {10: "keep", 20: "drop_shard_dup"}
    assert dec(v_sub) == {10: "keep", 20: "drop_index_dup"}
    assert {r.doc_id: r.n_index_cand for r in v_sub}[20] >= 1
    assert keeps(v_one) <= keeps(v_sub)
    assert sub_ids == [1, 10]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_admit_batch_invariant_randomized(spark, tmp_path, seed):
    """Closed-loop invariant of sub-batched admission on seeded random
    corpora (heavy near-dup structure; corpora small enough that
    BUCKET_CAP never binds, so the banding's notion of near-dup is
    exact):

    * superset: every doc the one-shot probe admits, sub-batching also
      admits (the chain divergence only ever flips drop -> keep);
    * near-dup-free: RE-probing the admitted docs against the final
      folded index (whose anti-join judges each doc against the index
      minus itself) returns `keep` for every one of them — no admitted
      doc is a verified near-dup of the seed corpus or of any other
      admitted doc, by the production probe's own measure."""
    import random

    from etl_bom_radiation_spark.lsh_index import admit_batch, build_lsh_index, probe_lsh_index

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    for i in range(48):
        if i >= 12 and rng.random() < 0.45:
            # near-dup of an earlier doc: mutate 0-3 words of a copy
            words = list(docs[rng.randrange(len(docs))][1])
            for _ in range(rng.randrange(4)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(12)]
        docs.append((i, words))
    frame = _docs_frame(spark, [(i, " ".join(w)) for i, w in docs])
    seed_docs = frame.filter(F.col("doc_id") < 24)
    batch = frame.filter(F.col("doc_id") >= 24)

    one, sub = str(tmp_path / "one"), str(tmp_path / "sub")
    build_lsh_index(spark, seed_docs, one)
    build_lsh_index(spark, seed_docs, sub)
    keeps = lambda v: {
        r.doc_id for r in v.filter("decision = 'keep'").collect()
    }
    k_one = keeps(admit_batch(spark, one, batch))
    k_sub = keeps(admit_batch(spark, sub, batch, max_docs=5))
    assert k_one <= k_sub

    admitted = batch.join(
        spark.createDataFrame([(d,) for d in sorted(k_sub)], "doc_id bigint"),
        "doc_id",
    )
    if k_sub:
        reprobe = probe_lsh_index(spark, sub, admitted)
        assert keeps(reprobe) == k_sub, (
            "an admitted doc re-probes as a near-dup of the final index: "
            + str(reprobe.filter("decision <> 'keep'").collect())
        )


def test_compact_lsh_index_layout_only(spark, tmp_path):
    """Compaction folds the per-update generation files into a few
    id-sorted files without changing CONTENT: rows identical, a probe
    bit-identical across the rewrite, the meta mark untouched, and
    below-threshold tables are left alone (second run no-op)."""
    from etl_bom_radiation_spark.lsh_index import (
        admit_batch,
        build_lsh_index,
        compact_lsh_index,
        probe_lsh_index,
    )

    seed = _docs_frame(
        spark,
        [(i, f"seed doc w{i} about topic t{i % 5} with shared filler words")
         for i in range(10)],
    )
    d = str(tmp_path / "idx")
    build_lsh_index(spark, seed, d)
    for lo in (100, 200, 300):  # three fold generations
        batch = _docs_frame(
            spark,
            [(lo + j, f"arrival doc w{lo + j} on fresh topic f{lo + j}")
             for j in range(3)],
        )
        admit_batch(spark, d, batch)

    def n_files(name):
        p = Path(d) / f"{name}.parquet"
        return sum(1 for f in p.iterdir() if f.name.startswith("part-"))

    probe = _docs_frame(
        spark, [(999, "arrival doc w100 on fresh topic f100")]  # near-dup of 100
    )
    kp = lambda: sorted(
        (r.doc_id, r.n_index_cand, r.n_shard_cand, r.best_jaccard, r.decision)
        for r in probe_lsh_index(spark, d, probe).collect()
    )
    before_rows, before_verdict = _index_rows(spark, d), kp()
    assert any(v[4] == "drop_index_dup" for v in before_verdict)  # dup of a FOLDED doc
    assert n_files("bands") > 2 and n_files("hsets") > 2

    counts = compact_lsh_index(spark, d, files_per_table=2)
    assert counts["bands"] > 2 and counts["hsets"] > 2
    assert n_files("bands") <= 2 and n_files("hsets") <= 2
    assert _index_rows(spark, d) == before_rows
    assert kp() == before_verdict

    # second run: already at/below threshold -> layout untouched
    pre = {f.name for f in (Path(d) / "bands.parquet").iterdir()}
    compact_lsh_index(spark, d, files_per_table=2)
    assert {f.name for f in (Path(d) / "bands.parquet").iterdir()} == pre

    # the lifecycle continues across the rewrite: another fold + probe
    nxt = _docs_frame(spark, [(1000, "post compaction arrival on topic g1")])
    assert {r.decision for r in admit_batch(spark, d, nxt).collect()} == {"keep"}
    redup = _docs_frame(spark, [(1001, "post compaction arrival on topic g1")])
    assert {r.decision for r in probe_lsh_index(spark, d, redup).collect()} == {
        "drop_index_dup"
    }


def test_compact_lsh_index_swap_boolean_failures_surface(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 discipline on the index-compaction swap: a delete or
    rename that fails BY RETURNING FALSE (Hadoop boolean contract) must
    raise, not proceed.  A lying delete used to make the compaction a
    silent no-op that reported success; a lying rename left the table
    missing until the NEXT entry point's repair — now the swap repairs
    inline and still raises, and content survives either way."""
    import etl_bom_radiation_spark.lsh_index as L
    from tests.conftest import LyingFS

    seed = _docs_frame(
        spark,
        [(i, f"seed doc w{i} about topic t{i % 5} with shared filler words")
         for i in range(10)],
    )
    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, seed, d)
    for lo in (100, 200):  # fold generations so compaction has work
        L.admit_batch(
            spark,
            d,
            _docs_frame(
                spark,
                [(lo + i, f"novel doc n{lo + i} topic u{i} unique words here")
                 for i in range(5)],
            ),
        )
    before_rows = _index_rows(spark, d)
    real_meta_path = L._meta_path

    def lie(**kw):
        # ONE lying instance shared across _meta_path calls, so the lie
        # count is consumed process-wide (the inline repair must see an
        # honest FS once the single lie has fired)
        state: dict = {}

        def patched(s, i):
            fs, p = real_meta_path(s, i)
            state.setdefault("fs", LyingFS(fs, **kw))
            return state["fs"], p

        monkeypatch.setattr(L, "_meta_path", patched)

    # the live-table delete lies: swap cannot land — raise, change nothing
    lie(fail_deletes=1, path_match="bands.parquet")
    with pytest.raises(RuntimeError, match="could not delete"):
        L.compact_lsh_index(spark, d, files_per_table=1)
    monkeypatch.setattr(L, "_meta_path", real_meta_path)
    assert _index_rows(spark, d) == before_rows

    # the rename-in lies AFTER a successful delete: raise, but repair the
    # completed temp back in INLINE (the table must not stay missing)
    lie(fail_renames=1, path_match=".bands.compact-")
    with pytest.raises(RuntimeError, match="could not swap"):
        L.compact_lsh_index(spark, d, files_per_table=1)
    monkeypatch.setattr(L, "_meta_path", real_meta_path)
    assert (Path(d) / "bands.parquet").exists()
    assert _index_rows(spark, d) == before_rows

    # an honest run then compacts to the requested layout
    L.compact_lsh_index(spark, d, files_per_table=1)
    assert _index_rows(spark, d) == before_rows
    fs, _ = real_meta_path(spark, d)  # the REAL fs: the lies are over
    bands_p = spark._jvm.org.apache.hadoop.fs.Path(f"{d}/bands.parquet")
    assert L._part_file_count(fs, bands_p) <= 1


def test_compact_lsh_index_crash_repair(spark, tmp_path):
    """The compaction swap's two crash states are both repairable and
    unambiguous (live-table presence is the discriminator):

    * crash BETWEEN delete-live and rename-in: the complete
      ``_SUCCESS``-marked temp is renamed in (by ``vacuum_lsh_index`` —
      the one repair entry point), and probes come back bit-identical;
    * crash BEFORE the delete: the live table is authoritative and the
      next ``compact_lsh_index`` discards the stray temp;
    * a missing table with NO complete temp is real corruption and
      raises instead of guessing."""
    import shutil

    from etl_bom_radiation_spark.lsh_index import (
        admit_batch,
        build_lsh_index,
        compact_lsh_index,
        probe_lsh_index,
        vacuum_lsh_index,
    )

    seed = _docs_frame(
        spark,
        [(i, f"seed doc w{i} about topic t{i % 5} with shared filler words")
         for i in range(10)],
    )
    d = str(tmp_path / "idx")
    build_lsh_index(spark, seed, d)
    admit_batch(
        spark,
        d,
        _docs_frame(
            spark,
            [(100 + j, f"arrival doc w{100 + j} on fresh topic f{100 + j}")
             for j in range(3)],
        ),
    )

    probe = _docs_frame(spark, [(999, "arrival doc w100 on fresh topic f100")])
    kp = lambda: sorted(
        (r.doc_id, r.n_index_cand, r.n_shard_cand, r.best_jaccard, r.decision)
        for r in probe_lsh_index(spark, d, probe).collect()
    )
    before_rows, before_verdict = _index_rows(spark, d), kp()

    # -- crash BETWEEN delete and rename: rewrite landed complete, live gone
    live = Path(d) / "bands.parquet"
    spark.read.parquet(str(live)).coalesce(1).write.parquet(
        f"{d}/.bands.compact-crash1"
    )
    assert (Path(d) / ".bands.compact-crash1" / "_SUCCESS").exists()
    shutil.rmtree(live)
    with pytest.raises(Exception):  # loud failure, never a torn read
        kp()
    assert vacuum_lsh_index(spark, d) == 0  # repair, no orphan rows involved
    assert live.exists() and not (Path(d) / ".bands.compact-crash1").exists()
    assert _index_rows(spark, d) == before_rows
    assert kp() == before_verdict

    # -- crash BEFORE the delete: live authoritative, stray temp discarded
    spark.read.parquet(f"{d}/hsets.parquet").coalesce(1).write.parquet(
        f"{d}/.hsets.compact-crash2"
    )
    compact_lsh_index(spark, d, files_per_table=64)  # head repair; no rewrite
    assert not (Path(d) / ".hsets.compact-crash2").exists()
    assert _index_rows(spark, d) == before_rows
    assert kp() == before_verdict

    # -- missing table, no complete temp: corruption, not a crashed swap
    shutil.rmtree(Path(d) / "hsets.parquet")
    with pytest.raises(RuntimeError, match="restore from a rebuild"):
        vacuum_lsh_index(spark, d)


def test_update_lsh_index_crash_recovery(spark, tmp_path, monkeypatch):
    """The fold's crash protocol: data files append first, the meta
    high-water mark publishes LAST (the commit). A crash in between
    (simulated: _write_meta raises after both appends) must leave probes
    serving the PRE-crash snapshot bit-for-bit; vacuum_lsh_index removes
    the uncommitted rows so the batch retry lands exactly once — final
    tables identical to a clean build over the union."""
    import etl_bom_radiation_spark.lsh_index as L

    base = _docs_frame(
        spark,
        [
            (1, "seed document about broadcast joins and bucket pruning"),
            (2, "another seed on watermark state eviction semantics"),
        ],
    )
    batch = _docs_frame(
        spark, [(10, "an arriving novel document about shingle sketches")]
    )
    d, full = str(tmp_path / "idx"), str(tmp_path / "full")
    L.build_lsh_index(spark, base, d)
    probe = _docs_frame(spark, [(99, "an arriving novel document about shingle caches")])
    kp = lambda df: sorted(
        (r.doc_id, r.n_index_cand, r.n_shard_cand, r.best_jaccard, r.decision)
        for r in df.collect()
    )
    before = kp(L.probe_lsh_index(spark, d, probe))

    real_write = L._write_meta

    def crash(*a, **k):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(L, "_write_meta", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        L.update_lsh_index(spark, d, batch)
    monkeypatch.setattr(L, "_write_meta", real_write)

    # uncommitted leftovers exist on disk but every read hides them
    raw = spark.read.parquet(f"{d}/bands.parquet")
    assert raw.filter("doc_id > 2").count() > 0
    assert kp(L.probe_lsh_index(spark, d, probe)) == before

    # repair is FILE-granular: orphan rows never share a file with
    # committed ones, so vacuum deletes the crashed append's files and
    # leaves every committed data file byte-identical in place (at the
    # module's posture: no 100 TB rewrite to repair a crashed batch)
    def _files(name):
        p = Path(d) / f"{name}.parquet"
        return {
            f.name: f.stat().st_mtime_ns
            for f in p.iterdir()
            if f.name.startswith("part-")
        }

    pre = {n: _files(n) for n in ("bands", "hsets")}
    assert L.vacuum_lsh_index(spark, d) > 0
    assert L.vacuum_lsh_index(spark, d) == 0  # idempotent / healthy
    for name in ("bands", "hsets"):
        post = _files(name)
        assert set(post) < set(pre[name])  # only deletions, no rewrites
        assert all(pre[name][f] == mt for f, mt in post.items())  # untouched
    assert L.update_lsh_index(spark, d, batch) == 1
    L.build_lsh_index(spark, base.unionByName(batch), full)
    assert _index_rows(spark, d) == _index_rows(spark, full)


_EPOCH_SEED = [
    (1, "seed doc about broadcast joins and shuffle pruning"),
    (2, "seed doc about watermark state eviction rules"),
]
#: 3 sub-batches at max_docs=2, exercising every verdict path ACROSS
#: sub-batch boundaries: 11 dups the seed, 12 dups 10 (same sub-batch
#: one-shot / folded keeper when split), 14 dups 13 across sub-batches
_EPOCH_BATCH = [
    (10, "novel arrival text about parquet footer statistics"),
    (11, "seed doc about broadcast joins and shuffle tuning"),
    (12, "novel arrival text about parquet footer statistic"),
    (13, "fresh topic on morton codes and zorder clustering"),
    (14, "fresh topic on morton codes and zorder clusters"),
    (15, "totally different content about session windows"),
]


def _kp(df):
    return sorted(
        (r.doc_id, r.n_index_cand, r.n_shard_cand, r.best_jaccard, r.decision)
        for r in df.collect()
    )


def test_admit_batch_epoch_replay_idempotent(spark, tmp_path):
    """The foreachBatch exactly-once protocol, full-replay case: after a
    COMPLETE admission, re-admitting the same batch with the same epoch
    (Spark redelivers the last uncommitted micro-batch on restart)
    reproduces the verdicts bit-identically and folds nothing — while a
    redelivery with a NEW epoch, or of an OLD epoch after a newer
    commit, still trips the stale-id guard (a genuine re-arrival bug
    must stay loud)."""
    import etl_bom_radiation_spark.lsh_index as L

    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    batch = _docs_frame(spark, _EPOCH_BATCH)

    v1 = _kp(L.admit_batch(spark, d, batch, max_docs=2, epoch=0))
    assert {x[4] for x in v1} == {"keep", "drop_index_dup"}
    rows1 = _index_rows(spark, d)

    v2 = _kp(L.admit_batch(spark, d, batch, max_docs=2, epoch=0))  # replay
    assert v2 == v1
    assert _index_rows(spark, d) == rows1

    # the stream moves on: a new epoch admits normally...
    nxt = _docs_frame(
        spark, [(20, "post restart arrival about adaptive query execution")]
    )
    assert _kp(L.admit_batch(spark, d, nxt, epoch=1))[0][4] == "keep"
    # ...and the old epoch is no longer a replay — guard stays loud
    with pytest.raises(ValueError, match="append-only doc_ids"):
        L.admit_batch(spark, d, batch, max_docs=2, epoch=0)


def test_admit_batch_epoch_replay_mid_subbatch_crash(spark, tmp_path, monkeypatch):
    """Crash AFTER the first sub-batch's fold committed: the replay must
    reproduce every sub-batch's verdicts bit-identically (committed
    sub-batches probed against the reconstructed as-of index view, not
    the post-fold one), skip the committed fold, fold the rest — final
    verdicts and tables equal to an uncrashed control run."""
    import etl_bom_radiation_spark.lsh_index as L

    batch = _docs_frame(spark, _EPOCH_BATCH)
    ctrl, d = str(tmp_path / "ctrl"), str(tmp_path / "idx")
    for p in (ctrl, d):
        L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), p)
    want = _kp(L.admit_batch(spark, ctrl, batch, max_docs=2, epoch=0))

    real_fold, calls = L._fold_frames, []

    def fold_then_crash(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated crash before second sub-batch fold")
        return real_fold(*a, **k)

    monkeypatch.setattr(L, "_fold_frames", fold_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        L.admit_batch(spark, d, batch, max_docs=2, epoch=0)
    monkeypatch.setattr(L, "_fold_frames", real_fold)

    folds = []

    def counting_fold(*a, **k):
        folds.append(1)
        return real_fold(*a, **k)

    monkeypatch.setattr(L, "_fold_frames", counting_fold)
    got = _kp(L.admit_batch(spark, d, batch, max_docs=2, epoch=0))
    assert got == want
    assert len(folds) == 2  # sub-batch 1's committed fold was SKIPPED
    assert _index_rows(spark, d) == _index_rows(spark, ctrl)


def test_admit_batch_epoch_replay_mid_append_crash(spark, tmp_path, monkeypatch):
    """Crash INSIDE the fold (data files appended, mark never published):
    the stored epoch never became this epoch, so the redelivery takes
    the NORMAL path — but because an epoch was given, admit_batch
    self-vacuums first, so the retry cannot double-append the orphans.
    Result equals an uncrashed control run."""
    import etl_bom_radiation_spark.lsh_index as L

    batch = _docs_frame(spark, _EPOCH_BATCH)
    ctrl, d = str(tmp_path / "ctrl"), str(tmp_path / "idx")
    for p in (ctrl, d):
        L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), p)
    want = _kp(L.admit_batch(spark, ctrl, batch, epoch=0))

    real_write = L._write_meta
    monkeypatch.setattr(
        L,
        "_write_meta",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("simulated crash")),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        L.admit_batch(spark, d, batch, epoch=0)
    monkeypatch.setattr(L, "_write_meta", real_write)

    # orphan rows are on disk, uncommitted
    assert spark.read.parquet(f"{d}/bands.parquet").filter("doc_id > 2").count() > 0

    got = _kp(L.admit_batch(spark, d, batch, epoch=0))
    assert got == want
    assert _index_rows(spark, d) == _index_rows(spark, ctrl)


def test_admit_batch_vacuum_once_per_process(spark, tmp_path, monkeypatch):
    """Epoch-mode's repair pass (vacuum: file listing + stats-pruned
    footer scan over the WHOLE index) is paid once per driver process
    per index, not per micro-batch — a healthy continuous stream must
    not rescan a 100 TB index on every arrival — while a failed fold
    evicts the clean-cache so the next epoch-bearing call repairs."""
    import etl_bom_radiation_spark.lsh_index as L

    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    real_vac, vacs = L.vacuum_lsh_index, []
    monkeypatch.setattr(
        L, "vacuum_lsh_index", lambda *a: (vacs.append(1), real_vac(*a))[1]
    )

    one = lambda i, t: _docs_frame(spark, [(i, t)])
    L.admit_batch(spark, d, one(10, "doc about shuffle partition sizing"), epoch=0)
    L.admit_batch(spark, d, one(11, "doc about morton curve file layouts"), epoch=1)
    assert len(vacs) == 1  # steady state: one repair scan, then cached

    monkeypatch.setattr(
        L,
        "_write_meta",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        L.admit_batch(spark, d, one(12, "doc about bloom filter bit arrays"), epoch=2)
    monkeypatch.undo()
    monkeypatch.setattr(
        L, "vacuum_lsh_index", lambda *a: (vacs.append(1), real_vac(*a))[1]
    )

    # orphans from the crashed fold are on disk; the eviction makes the
    # next call vacuum them away before folding
    L.admit_batch(spark, d, one(13, "doc about watermark horizon plateaus"), epoch=3)
    assert len(vacs) == 2
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{d}/hsets.parquet").collect()
    ) == [1, 2, 10, 11, 13]


def test_split_batch_distributed_deterministic_contiguous(spark):
    """admit_batch's over-broadcast splitter (VERDICT r9 #1): the
    sub-batch tagging must be

    * DISTRIBUTED — no Exchange, no Window, no single-partition stage at
      all (the lint class tests/test_plans.py holds declared queries to;
      the rejected ``ntile(k) OVER (ORDER BY doc_id)`` funneled the whole
      over-broadcast batch through ONE task's sort);
    * DETERMINISTIC — a pure function of (doc_id, lo, hi, k), because the
      epoch replay protocol re-derives the sub-batch boundaries in a
      FRESH process (the rejected ``repartitionByRange`` samples its cuts
      with an RDD-id-seeded reservoir: a replay could re-cut across the
      crashed run's commit point and wedge on the append-only guard);
    * contiguous ordered id ranges (sub i's max id below sub i+1's min),
      the property the in-order folds' append-only guard rides on."""
    from etl_bom_radiation_spark.lsh_index import _split_batch

    batch = _docs_frame(spark, [(i, f"doc number {i}") for i in range(1, 101)])
    k = 4
    tagged = _split_batch(batch, k, 1, 100)
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection: not even a shuffle
    assert "Window" not in plan
    assert "SinglePartition" not in plan

    rows = tagged.collect()
    assert sorted(r.doc_id for r in rows) == list(range(1, 101))  # a partition
    subs = sorted({r._sub for r in rows})
    assert subs and all(0 <= s < k for s in subs)
    assert len(subs) > 1  # the split actually split
    spans = {
        s: (min(r.doc_id for r in rows if r._sub == s),
            max(r.doc_id for r in rows if r._sub == s))
        for s in subs
    }
    for lo, hi in zip(subs, subs[1:]):
        assert spans[lo][1] < spans[hi][0]  # ordered, contiguous ranges

    # deterministic: two INDEPENDENT evaluations (no checkpoint, fresh
    # plan) assign every row the same tag — the replay precondition
    again = sorted((r.doc_id, r._sub) for r in _split_batch(
        _docs_frame(spark, [(i, f"doc number {i}") for i in range(1, 101)]),
        k, 1, 100,
    ).collect())
    assert again == sorted((r.doc_id, r._sub) for r in rows)


def test_admit_batch_skewed_ids_resplit_recursively(spark, tmp_path, monkeypatch):
    """Width-equal cuts over-fill a range when ids CLUSTER (here: 8 low
    ids + 8 high ids, max_docs=4 -> the first width-equal cut holds all
    8 low ids); admit_batch must forward max_docs into the recursion so
    the over-filled sub-batch re-splits within its narrower id interval
    instead of broadcasting over-envelope.  Docs are pairwise-novel so
    the chain caveat is moot: admission must be IDENTICAL to one-shot
    and the folded index equal — while the fold count proves every leaf
    obeyed the envelope (4 leaves of 4 docs, not 2+1 with an 8-doc
    one-shot leaf)."""
    import etl_bom_radiation_spark.lsh_index as L

    batch = _docs_frame(
        spark,
        [(10 + j, f"alpha{j} bravo{j} carol{j} delta{j} echo{j} fox{j}")
         for j in range(8)]
        + [(10_000 + j, f"golf{j} hotel{j} india{j} julia{j} kilo{j} lima{j}")
           for j in range(8)],
    )
    one, sub = str(tmp_path / "one"), str(tmp_path / "sub")
    for d in (one, sub):
        L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)

    v_one = _kp(L.admit_batch(spark, one, batch))

    real_fold, leaf_sizes = L._fold_frames, []

    def counting_fold(spark_, index_dir_, kept_ids, *a, **k):
        leaf_sizes.append(kept_ids.count())
        return real_fold(spark_, index_dir_, kept_ids, *a, **k)

    monkeypatch.setattr(L, "_fold_frames", counting_fold)
    v_sub = _kp(L.admit_batch(spark, sub, batch, max_docs=4))
    assert v_sub == v_one
    assert _index_rows(spark, sub) == _index_rows(spark, one)
    # every leaf fold stayed within the envelope: the 8-doc low cluster
    # re-split instead of folding one-shot
    assert leaf_sizes and max(leaf_sizes) <= 4
    assert sum(leaf_sizes) == 16  # all novel docs admitted, exactly once


def test_meta_swap_crash_repair(spark, tmp_path):
    """_write_meta's delete+rename swap window (ADVICE r9): a crash
    between the delete and the rename leaves no live meta but a COMPLETE
    ``meta.json.tmp`` — and every entry point starts at ``_read_meta``,
    so without a repair the index (including its own repair tooling) was
    unreachable.  ``_read_meta`` now renames the tmp in, completing the
    commit.  A stale tmp NEXT TO a live meta (crash before the delete)
    is ignored: the live meta stays authoritative."""
    import json

    import etl_bom_radiation_spark.lsh_index as L

    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    assert (
        L.update_lsh_index(
            spark, d, _docs_frame(spark, [(10, "novel doc about morton codes")])
        )
        == 1
    )
    meta = Path(d) / "meta.json"
    committed = meta.read_text()
    assert json.loads(committed)["max_doc_id"] == 10

    # crash BEFORE the delete: a superseded tmp alongside the live meta
    tmp = Path(d) / "meta.json.tmp"
    tmp.write_text(json.dumps({"max_doc_id": 999, "epoch": None}))
    assert L._read_meta(spark, d)["max_doc_id"] == 10  # live meta wins

    # crash BETWEEN delete and rename: live gone, complete tmp present
    tmp.write_text(committed)
    meta.unlink()
    assert L._read_meta(spark, d)["max_doc_id"] == 10  # restored from tmp
    assert meta.exists() and not tmp.exists()
    # the commit really completed: the lifecycle continues from the mark
    assert (
        L.update_lsh_index(
            spark, d, _docs_frame(spark, [(11, "another novel doc on z order")])
        )
        == 1
    )
    assert L._read_meta(spark, d)["max_doc_id"] == 11


def test_meta_first_write_torn_tmp_not_promoted(spark, tmp_path):
    """ADVICE r10: the 'tmp is complete by the write protocol' argument
    fails for the FIRST-ever meta write (build on a new index) — no live
    meta exists during the entire tmp write, so a crash mid-create
    leaves a TORN ``meta.json.tmp`` with the live meta missing, and
    promoting it would turn every later read into a JSON parse error on
    a live meta instead of the intended missing-meta failure mode.
    ``_repair_meta`` now validates the tmp before renaming it in and
    IGNORES an invalid one — not deletes it (code-review r11): the same
    on-disk state is what a reader sees while the first-ever write is
    still writing the tmp, and deleting it under the writer would abort
    a healthy initial build."""
    import etl_bom_radiation_spark.lsh_index as L

    d = tmp_path / "idx"
    d.mkdir()
    tmp = d / "meta.json.tmp"
    tmp.write_text('{"max_doc_id": 1')  # crashed mid-create: torn JSON
    assert L._repair_meta(spark, str(d)) is False
    assert not (d / "meta.json").exists()
    assert tmp.exists()  # left in place: it may be an in-flight write
    # the caller sees the honest missing-meta failure, not a parse error
    with pytest.raises(Exception, match="meta.json"):
        L._read_meta(spark, str(d))
    # parseable-but-not-a-meta content is refused the same way
    tmp.write_text('{"wrong_key": 1}')
    assert L._repair_meta(spark, str(d)) is False
    assert not (d / "meta.json").exists()
    # a COMPLETE tmp still repairs (the ADVICE r9 swap-window fix)
    tmp.write_text('{"max_doc_id": 7, "epoch": null}')
    assert L._repair_meta(spark, str(d)) is True
    assert L._read_meta(spark, str(d))["max_doc_id"] == 7
    # and a lingering torn tmp never wedges the next real build: the
    # writer overwrites it and commits normally
    (d / "meta.json").unlink()
    tmp.write_text('{"max_doc_id": 1')
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), str(d))
    assert L._read_meta(spark, str(d))["max_doc_id"] == 2
    assert not tmp.exists()


def test_write_meta_rename_failure_surfaces(spark, tmp_path, monkeypatch):
    """ADVICE r10: ``_write_meta`` ignored ``fs.rename``'s boolean — on
    a store where rename fails WITHOUT throwing, the commit was silently
    lost while ``update_lsh_index`` reported success: the appended
    keeper rows sit above a stale mark (orphans), and the next vacuum
    deletes admitted docs after the stream checkpoint advanced.  A
    failed rename now raises — unless a concurrent reader's
    ``_repair_meta`` won the rename of the SAME tmp, which lands the
    identical payload (a completed commit, not a loss)."""
    import etl_bom_radiation_spark.lsh_index as L

    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    real_meta_path = L._meta_path

    class _RenameLiesFS:
        """Delegates to the real FS but reports rename failure; with
        ``reader_wins`` the rename actually happens first (a concurrent
        repairer got there), it just looks failed to the writer."""

        def __init__(self, fs, reader_wins):
            self._fs, self._reader_wins = fs, reader_wins

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if self._reader_wins:
                assert self._fs.rename(src, dst)
            return False

    def patch(reader_wins):
        monkeypatch.setattr(
            L,
            "_meta_path",
            lambda s, i: (
                lambda fs_p: (_RenameLiesFS(fs_p[0], reader_wins), fs_p[1])
            )(real_meta_path(s, i)),
        )

    # rename fails and nothing restored the meta: surface, don't succeed
    patch(reader_wins=False)
    with pytest.raises(RuntimeError, match="meta commit failed"):
        L._write_meta(spark, d, 99)
    # the completed tmp the failure left behind is itself repairable
    monkeypatch.setattr(L, "_meta_path", real_meta_path)
    assert L._read_meta(spark, d)["max_doc_id"] == 99

    # a concurrent reader completed the swap: same payload landed — success
    patch(reader_wins=True)
    L._write_meta(spark, d, 123, epoch=7)
    monkeypatch.setattr(L, "_meta_path", real_meta_path)
    meta = L._read_meta(spark, d)
    assert meta["max_doc_id"] == 123 and meta["epoch"] == 7


def test_write_meta_repairer_consumed_tmp_self_heals(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: the narrow first-write race — a concurrent reader's
    ``_repair_meta`` promotes the writer's complete tmp, the writer's
    own delete then removes the just-promoted meta, and the rename finds
    no tmp.  End state at the rename: tmp GONE, live meta GONE, payload
    landed nowhere — the old code raised 'meta commit failed' with no
    meta left although the payload was still in memory.  ``_write_meta``
    now re-stages the tmp from the in-memory payload and retries once,
    so the raced commit self-heals."""
    import json

    import etl_bom_radiation_spark.lsh_index as L

    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    real_meta_path = L._meta_path

    class _RaceFS:
        """First rename: simulate the raced loss — consume the tmp (as
        the repairer's promote + the writer's delete jointly do) and
        report failure.  Later calls are honest, so the retry lands."""

        def __init__(self, fs):
            self._fs, self._raced = fs, False

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if not self._raced:
                self._raced = True
                assert self._fs.delete(src, False)  # tmp gone, p gone
                return False
            return self._fs.rename(src, dst)

    state: dict = {}

    def patched(s, i):
        fs, p = real_meta_path(s, i)
        state.setdefault("fs", _RaceFS(fs))
        return state["fs"], p

    monkeypatch.setattr(L, "_meta_path", patched)
    (Path(d) / "meta.json").unlink()  # the first-ever-write state
    L._write_meta(spark, d, 42, epoch=3)  # must NOT raise
    monkeypatch.setattr(L, "_meta_path", real_meta_path)
    meta = L._read_meta(spark, d)
    assert meta["max_doc_id"] == 42 and meta["epoch"] == 3
    assert json.loads((Path(d) / "meta.json").read_text())["max_doc_id"] == 42


def test_valid_meta_mark_must_be_json_integer(spark, tmp_path):
    """ADVICE r11: ``_valid_meta`` must not promote a parseable tmp whose
    mark is a float (``int(3.9)`` truncates) or a bool — the writer only
    emits JSON integers, so anything else is hand-edited or corrupted."""
    import etl_bom_radiation_spark.lsh_index as L

    assert L._valid_meta('{"max_doc_id": 7, "epoch": null}') is True
    for bad in (
        '{"max_doc_id": 3.9}',
        '{"max_doc_id": true}',
        '{"max_doc_id": "7"}',
        '{"max_doc_id": null}',
    ):
        assert L._valid_meta(bad) is False, bad
    # and the repair path refuses them end-to-end
    d = tmp_path / "idx"
    d.mkdir()
    (d / "meta.json.tmp").write_text('{"max_doc_id": 3.9}')
    assert L._repair_meta(spark, str(d)) is False
    assert not (d / "meta.json").exists()


def test_compact_missing_live_table_diagnosed(spark, tmp_path, monkeypatch):
    """ADVICE r11: Hadoop delete returns false for a MISSING path too —
    a live table that vanishes out-of-band right at the swap must
    surface as the missing-table diagnosis, not as a misleading
    'could not delete'."""
    import etl_bom_radiation_spark.lsh_index as L
    from tests.conftest import LyingFS

    d = str(tmp_path / "idx")
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    for lo in (100, 200):  # fold generations so compaction has work
        L.admit_batch(
            spark,
            d,
            _docs_frame(
                spark,
                [(lo + i, f"novel doc n{lo + i} topic u{i} unique words here")
                 for i in range(5)],
            ),
        )
    real_meta_path = L._meta_path

    class _VanishFS(LyingFS):
        """delete(live): the dir vanishes (really deleted) but the call
        reports failure — the 'someone else deleted it' ambiguity."""

        def delete(self, path, recursive):
            if "bands.parquet" in path.getName():
                self._fs.delete(path, recursive)
                return False
            return self._fs.delete(path, recursive)

    state: dict = {}

    def patched(s, i):
        fs, p = real_meta_path(s, i)
        state.setdefault("fs", _VanishFS(fs))
        return state["fs"], p

    monkeypatch.setattr(L, "_meta_path", patched)
    with pytest.raises(RuntimeError, match="vanished at the swap"):
        L.compact_lsh_index(spark, d, files_per_table=1)
    # the remediation the message promises holds: an honest re-run
    # resumes from the completed temp (_repair_compaction promotes it)
    monkeypatch.setattr(L, "_meta_path", real_meta_path)
    L.compact_lsh_index(spark, d, files_per_table=1)
    fs, _ = real_meta_path(spark, d)
    bands_p = spark._jvm.org.apache.hadoop.fs.Path(f"{d}/bands.parquet")
    assert fs.exists(bands_p)


def test_vacuum_orphans_in_encodable_path(spark, tmp_path, monkeypatch):
    """vacuum's file deletes must survive URI-encodable characters in
    the index path (ADVICE r9): ``input_file_name()`` yields a
    percent-ENCODED URI, which fed raw to ``Path(String)`` names a file
    that does not exist — ``fs.delete`` returns false, the orphan stays,
    yet ``removed`` counted its rows, so the caller would retry the
    crashed batch and double-append.  The fix decodes via java.net.URI
    and raises on a false delete."""
    import etl_bom_radiation_spark.lsh_index as L

    d = str(tmp_path / "work space" / "idx")  # encodes to work%20space
    L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), d)
    monkeypatch.setattr(
        L,
        "_write_meta",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        L.update_lsh_index(
            spark, d, _docs_frame(spark, [(10, "novel doc about space curves")])
        )
    monkeypatch.undo()

    assert spark.read.parquet(f"{d}/bands.parquet").filter("doc_id > 2").count() > 0
    assert L.vacuum_lsh_index(spark, d) > 0
    # the orphan FILES are really gone (the encoded-path bug left them on
    # disk while reporting their rows as removed)
    assert spark.read.parquet(f"{d}/bands.parquet").filter("doc_id > 2").count() == 0
    assert spark.read.parquet(f"{d}/hsets.parquet").filter("doc_id > 2").count() == 0
    assert L.vacuum_lsh_index(spark, d) == 0


@pytest.mark.slow
def test_admit_batch_epoch_replay_across_process(spark, tmp_path, monkeypatch):
    """The epoch replay in a FRESH DRIVER PROCESS — the deployment shape
    (a restarted stream is a new JVM/Python pair), and precisely the
    scenario the in-process replay tests cannot see: any splitter whose
    cuts depend on process-local state re-cuts the redelivered batch
    differently, straddles the crashed run's commit point, and wedges on
    the append-only guard.  The batch is 1200 docs in ONE input
    partition — ABOVE the range-exchange sample budget (k=3 output
    partitions x sampleSizePerPartition=100), which is where the
    rejected repartitionByRange splitter's RDD-id-seeded reservoir stops
    being exhaustive and its cuts become process-dependent: measured
    once on a pure ids-100..1299 batch (DRIFT_r10 — NOT this test's
    batch, which prepends _EPOCH_BATCH ids 10-15, so ITS leaf-1 mark is
    437 = lo 10 + width 428 - 1), the sampled form committed leaf 1 at
    mark 281 and the fresh-process replay wedged with the append-only
    ValueError, while the equal-width form re-cut identically (mark
    499) and completed.  Below that scale (the 6-row epoch batch) even
    the sampled form passes — a cross-process test MUST run in the
    sampling regime to be live.  Crash after sub-batch 1's fold
    committed, then replay via a subprocess with its own SparkSession:
    verdicts must equal an uncrashed control run and the final index
    must be bit-identical."""
    import json as _json
    import os as _os
    import subprocess
    import sys as _sys

    import etl_bom_radiation_spark.lsh_index as L

    docs = _EPOCH_BATCH + [
        (100 + j, f"uniq{j}a uniq{j}b uniq{j}c uniq{j}d uniq{j}e")
        for j in range(1200 - len(_EPOCH_BATCH))
    ]
    batch = _docs_frame(spark, docs).coalesce(1)
    ctrl, d = str(tmp_path / "ctrl"), str(tmp_path / "idx")
    for p in (ctrl, d):
        L.build_lsh_index(spark, _docs_frame(spark, _EPOCH_SEED), p)
    want = _kp(L.admit_batch(spark, ctrl, batch, max_docs=400, epoch=0))

    real_fold, calls = L._fold_frames, []

    def fold_then_crash(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated crash before second sub-batch fold")
        return real_fold(*a, **k)

    monkeypatch.setattr(L, "_fold_frames", fold_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        L.admit_batch(spark, d, batch, max_docs=400, epoch=0)
    monkeypatch.setattr(L, "_fold_frames", real_fold)

    repo = str(Path(__file__).resolve().parent.parent)
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from etl_bom_radiation_spark.session import get_spark
from etl_bom_radiation_spark.lsh_index import admit_batch
spark = get_spark(app_name="replay_fresh_process")
batch = spark.createDataFrame({docs!r}, "doc_id bigint, text string").coalesce(1)
v = admit_batch(spark, {d!r}, batch, max_docs=400, epoch=0)
rows = sorted(
    (r.doc_id, r.n_index_cand, r.n_shard_cand, r.best_jaccard, r.decision)
    for r in v.collect()
)
print("RESULT:" + json.dumps(rows))
"""
    env = dict(_os.environ, SPARK_GRAFT_CPUS="8")  # small fresh driver
    out = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, env=env, cwd=repo,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT:")]
    assert lines, f"replay subprocess failed:\n{out.stdout}\n{out.stderr[-2000:]}"
    got = [tuple(r) for r in _json.loads(lines[0][len("RESULT:"):])]
    assert got == want  # verdicts reproduce bit-identically across processes
    assert _index_rows(spark, d) == _index_rows(spark, ctrl)


def test_split_batch_refuses_overflowing_id_span(spark, tmp_path):
    """The splitter's int64 guard: a batch whose doc_id span reaches the
    LONG range would wrap ``(doc_id - lo)`` silently (ANSI off) and the
    wrapped rows' negative tags would match no sub-batch filter — rows
    silently dropped from admission.  _split_batch must refuse instead;
    reachable ids exist (the empty-index sentinel sits at -(2**62))."""
    from etl_bom_radiation_spark.lsh_index import _split_batch

    wide = _docs_frame(
        spark, [(-(2**62) * 3 // 2, "low extreme"), (2**62, "high extreme")]
    )
    with pytest.raises(ValueError, match="doc_id span"):
        _split_batch(wide, 2, -(2**62) * 3 // 2, 2**62)
    # a span just inside the LONG range still splits (lo/hi are always the
    # batch's own min/max in admit_batch)
    narrow = _docs_frame(
        spark, [(-(2**61), "low extreme"), (2**61, "high extreme")]
    )
    ok = _split_batch(narrow, 2, -(2**61), 2**61)
    assert sorted((r.doc_id, r._sub) for r in ok.collect()) == [
        (-(2**61), 0),
        (2**61, 1),
    ]
