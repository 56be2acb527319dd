"""Hypothesis property tests (SURVEY §5.2 item 3).

Two engine-invariants that hand-picked examples can't pin down:

* grid decode roundtrip — for ANY well-formed grid, decode then re-pivot
  reproduces the input matrix exactly, and the row count equals
  ncols*nrows - #nodata;
* the engine-neutral polynomial hash used by the LLM fingerprint/simhash
  operators matches an independent Python fold for ANY ASCII token (this is
  the property that makes their DuckDB oracles exact).

Grids are generated data-first and written to files; Spark sessions are
expensive so examples are kept small and deadline disabled.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etl_bom_radiation_spark.grid.decode import decode_grid_directory

NODATA = -999

grid_strategy = st.tuples(
    st.integers(min_value=1, max_value=6),  # ncols
    st.integers(min_value=1, max_value=5),  # nrows
    st.sampled_from([0.25, 0.5, 1.0]),  # cellsize
    st.integers(min_value=-170, max_value=160),  # xll (int: exact fp)
    st.integers(min_value=-80, max_value=70),  # yll
    st.data(),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.data_too_large],
)
@given(params=grid_strategy)
def test_decode_roundtrip(spark, tmp_path_factory, params):
    ncols, nrows, cs, xll, yll, data = params
    body = [
        [
            data.draw(st.one_of(st.just(NODATA), st.integers(min_value=0, max_value=99)))
            for _ in range(ncols)
        ]
        for _ in range(nrows)
    ]
    d = tmp_path_factory.mktemp("grids")
    p = d / "H_GLOBAL_20210601_0300.txt"
    p.write_text(
        f"ncols {ncols}\nnrows {nrows}\nxllcorner {xll}\nyllcorner {yll}\n"
        f"cellsize {cs}\nNODATA_value {NODATA}\n"
        + "\n".join(" ".join(str(v) for v in row) for row in body)
        + "\n"
    )
    rows = decode_grid_directory(spark, str(p)).collect()

    n_nodata = sum(v == NODATA for r in body for v in r)
    assert len(rows) == ncols * nrows - n_nodata

    # re-pivot: every decoded point back to its matrix cell, exactly
    rebuilt = [[NODATA] * ncols for _ in range(nrows)]
    for r in rows:
        c = round((r.Longitude - xll) / cs)
        i = round((yll + nrows * cs - r.Latitude) / cs) - 1
        assert 0 <= c < ncols and 0 <= i < nrows
        assert rebuilt[i][c] == NODATA  # no cell decoded twice
        rebuilt[i][c] = r.Radiation
    assert rebuilt == body


def _py_polyhash(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % 2147483647
    return h


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    tokens=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
def test_polyhash_matches_python_fold(spark, tokens):
    from etl_bom_radiation_spark.queries.llm_queries import _polyhash

    df = spark.createDataFrame([(t,) for t in tokens], ["tok"]).select(
        "tok", _polyhash(F.col("tok")).alias("h")
    )
    got = {r["tok"]: r["h"] for r in df.collect()}
    assert got == {t: _py_polyhash(t) for t in tokens}


# --------------------------------------------------- filename grammars


@settings(max_examples=300, deadline=None)
@given(
    ts=st.datetimes(
        min_value=__import__("datetime").datetime(2000, 1, 1),
        max_value=__import__("datetime").datetime(2035, 12, 31),
    )
)
def test_sydney_partition_grammar_inverts(ts):
    """Grammar 1 driver-side roundtrip, pure Python (no Spark): for ANY
    UTC hour, the filename built from it parses to the Sydney-local
    partition of that instant, and utc_hours_for_sydney_partition maps
    that partition back to a set CONTAINING the original hour — including
    across both DST transitions (the repeated fall-back hour yields two
    candidates, the skipped spring-forward hour zero, which this
    roundtrip direction never hits)."""
    from datetime import timezone
    from zoneinfo import ZoneInfo

    from etl_bom_radiation_spark.grid.filenames import (
        sydney_partition_for_filename,
        utc_hours_for_sydney_partition,
    )

    utc_hour = ts.replace(minute=0, second=0, microsecond=0)
    fname = f"IDZ_GLOBAL_{utc_hour:%Y%m%d}_{utc_hour:%H}00.txt"
    part = sydney_partition_for_filename(fname)
    local = utc_hour.replace(tzinfo=timezone.utc).astimezone(
        ZoneInfo("Australia/Sydney")
    )
    assert part == (local.year, local.month, local.day, local.hour)
    assert utc_hour in utc_hours_for_sydney_partition(*part)
    # exactness of listing-level pruning: every candidate the inversion
    # proposes really lands back in the partition
    for cand in utc_hours_for_sydney_partition(*part):
        c_local = cand.replace(tzinfo=timezone.utc).astimezone(
            ZoneInfo("Australia/Sydney")
        )
        assert (c_local.year, c_local.month, c_local.day, c_local.hour) == part


def test_run_grammar_slot_arithmetic_matches_python_model(spark):
    """Grammar 2 (11-digit run = YYYYMMDD + 5-min slot on an 04:00 base):
    one Spark job over a seeded batch of random (date, slot) pairs —
    including slots past midnight wrap and both 2017 AEDT transition
    dates — must equal the naive-datetime Python fold exactly."""
    import random
    from datetime import datetime, timedelta

    from etl_bom_radiation_spark.grid.filenames import parse_run_timestamp

    rng = random.Random(20260813)
    cases = [(datetime(2017, 4, 2), 0), (datetime(2017, 10, 1), 287)]
    for _ in range(200):
        cases.append(
            (
                datetime(2000, 1, 1) + timedelta(days=rng.randrange(0, 366 * 30)),
                rng.randrange(0, 288),
            )
        )
    rows = [(f"NEMPriceSetter_{d:%Y%m%d}{slot:03d}.csv",) for d, slot in cases]
    got = (
        spark.createDataFrame(rows, "fname string")
        .select(parse_run_timestamp("fname").alias("ts"))
        .collect()
    )
    want = [
        d.replace(hour=4) + timedelta(minutes=5 * slot) for d, slot in cases
    ]
    assert [r.ts for r in got] == want


def test_sq8_quantization_error_bound(spark, sf_dir):
    """n28 semantics (not just cross-engine consistency): dequantizing the
    SQ8 codes reconstructs every element to within half a quantization
    step, span/(2*255) — the defining property of scalar quantization.
    v_min/v_max are reported rounded to 1e-6, so the bound carries that
    slack."""
    from etl_bom_radiation_spark.queries import load_all

    qs = load_all()
    sf = sf_dir
    out = {r.vec_id: r for r in qs["n28_embedding_quantize"].fn(spark, sf).collect()}
    orig = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        if r.embedding
    }
    assert set(out) == set(orig) and out
    for vid, row in out.items():
        span = row.v_max - row.v_min
        codes = [int(c) for c in row.q8.split(",")]
        assert len(codes) == len(orig[vid])
        assert all(0 <= c <= 255 for c in codes)
        tol = span / 510 + 2e-6 * (1 + abs(row.v_min) + span)
        for c, x in zip(codes, orig[vid]):
            assert abs(row.v_min + c * span / 255 - x) <= tol
        assert abs(row.mean_abs_err) <= tol


def _py_morton(xi: int, yi: int, bits: int = 16) -> int:
    z = 0
    for b in range(bits):
        z |= ((xi >> b) & 1) << (2 * b)
        z |= ((yi >> b) & 1) << (2 * b + 1)
    return z


@settings(max_examples=300, deadline=None)
@given(
    xi=st.integers(min_value=0, max_value=(1 << 16) - 1),
    yi=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
def test_morton_key_bijective_and_orders_quads(xi, yi):
    """Pure-Python model of scale.zorder_key's bit interleave (the Spark
    parity is pinned in tests/test_scale.py): the map is a bijection on the
    16-bit lattice (invertible by de-interleave), and any two points in the
    same 2^k-aligned quad sort before/after points of a disjoint later
    quad — the locality property row-group pruning rides on."""
    z = _py_morton(xi, yi)
    # invertibility: de-interleave recovers the inputs exactly
    rx = sum(((z >> (2 * b)) & 1) << b for b in range(16))
    ry = sum(((z >> (2 * b + 1)) & 1) << b for b in range(16))
    assert (rx, ry) == (xi, yi)
    # quad ordering: the top 2k bits of z are exactly the interleave of the
    # top k bits of xi/yi, so z // 4^j groups points by their 2^j-quad
    for j in (4, 8):
        assert z >> (2 * j) == _py_morton(xi >> j, yi >> j)


@settings(max_examples=200, deadline=None)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=100_000), min_size=1, max_size=8
    ),
    u24=st.integers(min_value=0, max_value=(1 << 24) - 1),
)
def test_tempering_integer_inequality_matches_rational_rate(counts, u24):
    """n40's pure-BIGINT keep decision `2*u24*S*c < 2^24*T*s` is exactly
    the rational comparison u < rate with rate = (T/2)*(s/S)/c — verified
    with exact Fraction arithmetic over arbitrary source profiles, and
    rates >= 1 always keep (the cap) since u24 < 2^24."""
    import math
    from fractions import Fraction

    s = [round(math.sqrt(c)) for c in counts]
    S, T = sum(s), sum(counts)
    for c_i, s_i in zip(counts, s):
        rate = Fraction(T, 2) * Fraction(s_i, S) / c_i
        keep_int = 2 * u24 * S * c_i < (1 << 24) * T * s_i
        keep_rational = Fraction(u24, 1 << 24) < rate
        assert keep_int == keep_rational
        if rate >= 1:
            assert keep_int  # the cap: rare sources keep everything


# --------------------------------------------------- sessionization (x04)


def _py_sessions(offsets_by_user):
    """Independent Python fold of the x04 contract: per user, order events
    by (minute offset, event id); a session break is a STRICTLY >30-min
    gap; return {(user, seq): (n_events, start_min, end_min)}."""
    out = {}
    for user, offs in offsets_by_user.items():
        ordered = sorted((m, i) for i, m in offs)
        seq, prev = 0, None
        for m, _ in ordered:
            if prev is None or (m - prev) > 30:
                seq += 1
                out[(user, seq)] = [0, m, m]
            row = out[(user, seq)]
            row[0] += 1
            row[2] = m
            prev = m
    return {k: tuple(v) for k, v in out.items()}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.dictionaries(
        keys=st.integers(min_value=1, max_value=4),  # users
        values=st.lists(
            st.integers(min_value=0, max_value=300),  # minute offsets
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_sessionization_matches_python_fold(spark, tmp_path_factory, data):
    """x04 against an independent fold for ANY small timeline — including
    duplicate timestamps (event_id tiebreak) and exact-30-min gaps
    (strict inequality keeps them in-session)."""
    import datetime

    from etl_bom_radiation_spark.queries import load_all

    t0 = datetime.datetime(2024, 3, 1)
    rows, offsets_by_user = [], {}
    eid = 0
    for user, offs in sorted(data.items()):
        per_user = []
        for m in offs:
            rows.append(
                (eid, t0 + datetime.timedelta(minutes=m), user, "e", 1.0, "{}")
            )
            per_user.append((eid, m))
            eid += 1
        offsets_by_user[user] = per_user
    d = str(tmp_path_factory.mktemp("sess"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    got = {
        (r.user_id, r.session_seq): (
            r.n_events,
            (r.start_us - int(t0.timestamp()) * 1_000_000) // 60_000_000,
            (r.end_us - int(t0.timestamp()) * 1_000_000) // 60_000_000,
        )
        for r in load_all()["x04_sessionization"].fn(spark, d).collect()
    }
    assert got == _py_sessions(offsets_by_user)


# --------------------------------------------------- one-pass MinHash sketch


def _py_minhash(shingles):
    """Reference MinHash model: min over shingles of each affine
    permutation of the polyhash — the semantics the sketch must preserve
    under ANY physical shape (it was refactored from a broadcast-seed
    crossJoin to a single 16-min-aggregate pass in r8, and to hash-once
    over the hashed sets in r16; this pins the values to an
    engine-independent fold)."""
    from etl_bom_radiation_spark.queries.minhash_eval import AFFINE, _POLY_MOD

    xs = [_py_polyhash(s) for s in shingles]
    return {
        seed: min((a * x + b) % _POLY_MOD for x in xs)
        for seed, (a, b) in enumerate(AFFINE)
    }


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=126),
                min_size=1,
                max_size=10,
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_sketch_signatures_match_python_model(spark, docs):
    """The sketch path ``lsh_index.sketch_docs`` runs — hashed sets
    exploded into ``sketch_from_hashes`` — equals the Python model, and
    so do the band keys ``band_frame`` builds from it: band b is
    "{min of seed 2b}-{min of seed 2b+1}"."""
    from etl_bom_radiation_spark.queries.banded_lsh import (
        BANDS,
        ROWS,
        band_frame,
        hashed_sets,
    )
    from etl_bom_radiation_spark.queries.minhash_eval import SEEDS, sketch_from_hashes

    shs = spark.createDataFrame(list(enumerate(docs)), "doc_id long, s array<string>")
    sig = sketch_from_hashes(
        hashed_sets(shs).select("doc_id", F.explode("hs").alias("x"))
    )
    got = {(r["doc_id"], r["seed"]): r["mn"] for r in sig.collect()}
    want = {
        (i, seed): mn
        for i, doc in enumerate(docs)
        for seed, mn in _py_minhash(set(doc)).items()
    }
    assert got == want
    assert len(got) == len(docs) * SEEDS
    bands = {(r["doc_id"], r["band"]): r["bk"] for r in band_frame(sig).collect()}
    assert bands == {
        (i, b): f"{want[i, ROWS * b]}-{want[i, ROWS * b + 1]}"
        for i in range(len(docs))
        for b in range(BANDS)
    }
