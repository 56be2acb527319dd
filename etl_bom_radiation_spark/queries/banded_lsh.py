"""Banded MinHash-LSH candidate pipeline, oracle-verified
(LLM-pipeline extension).

``n42_minhash_banded_lsh`` is the COMPLETE shingle -> minhash -> band ->
bucket-join -> verify near-dup pipeline under the driver's exact hash
gate.  n02 rides Spark ML's MinHashLSH (JVM-internal hash family, so
contractually rows-only) and n36 verified the estimator identity; this
closes the remaining gap — the banding/bucketing mechanics themselves —
with the engine-neutral sketch both already share (one polyhash per
distinct 2-gram shingle + 16 affine universal-hash permutations,
``minhash_eval.sketch_from_hashes``).

Pipeline (each stage the shape it must have at 100 TB):

* signatures: the shared assembly ``lsh_index.sketch_docs`` — one
  interpreted polyhash per distinct shingle (the hashed set the verify
  stage reuses), then codegen affine permutations, min per (doc, seed),
  map-side combined, 16 BIGINTs per doc;
* bands: b=8 bands of r=2 rows; the band key concatenates the band's
  minima IN SEED ORDER (seed-parity conditional min — deterministic,
  no collect_list ordering hazard).  b/r set the collision curve
  P(candidate) = 1-(1-J^r)^b with threshold ~(1/b)^(1/r) ~ 0.35;
* bucket join: docs sharing a (band, key) bucket pair up (a < b),
  DISTINCT pairs across bands counted as ``n_bands_hit``.  This is the
  O(colliding-pairs) step that replaces the O(n^2) all-pairs scan —
  the entire point of LSH.  Hot buckets (boilerplate-heavy corpora)
  are the n32 hazard; the same AQE skew-join posture is part of this
  operator's contract (re-asserted in-query);
* verify: exact Jaccard over ONLY the candidate pairs (shingle arrays
  joined back by doc id — linear in candidates, not in pairs), with
  the standard threshold flag.  False positives die here, which is why
  the bucket stage may be generous.

Every stage is deterministic integer/string arithmetic, so the full
candidate set — pair ids, band-hit counts, verified Jaccard, pass flag
— hash-matches DuckDB exactly.

Registered after ``profiling`` in ``queries.__init__._MODULES`` — new
round-6 entries must not queue-jump the stalest-evidence queries at the
registry front (VERDICT r3 #1).

Reference parity: no reference analog; completes SURVEY §2.H's near-dup
family (n02 production path, n36 estimator gate, this the mechanics
gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import load_tables, register
from .llm_queries import _DUCK_TOKENS, _duck_polyhash, _polyhash
from .minhash_eval import _DUCK_SH2, _duck_sig_cte, SEEDS

#: DuckDB polyhash of the list_transform lambda variable `q`
_DUCK_PH_Q = _duck_polyhash("q")

#: bands x rows-per-band must equal the sketch width (SEEDS = 16)
BANDS = 8
ROWS = 2
assert BANDS * ROWS == SEEDS

#: verify-stage near-dup threshold ~ the banding curve's (1/b)^(1/r)
THRESHOLD = 0.35

#: bucket saturation guard: pairs are generated only among the BUCKET_CAP
#: lowest doc_ids of each (band, key) bucket.  Found by the 10x scaling
#: probe (tools/scaling_probe.py): bucket sizes grow LINEARLY with corpus
#: size on low-entropy corpora (the fixtures' ~24-word vocabulary gives
#: only ~576 possible 2-gram shingles, so band keys saturate), which makes
#: the uncapped bucket self-join QUADRATIC — measured 23.0 candidate
#: pairs/doc at sf0.1 vs 2.3 at sf0.01.  The cap bounds any bucket's pair
#: contribution at C(64,2) ≈ 2k, restoring linearity.  Semantics: a
#: saturated bucket is exact-duplicate or boilerplate MASS, not near-dup
#: signal — exact dups are n01's job (and run before LSH in the n44
#: staging), cross-document boilerplate is n29's; a true near-dup pair is
#: lost only if it lands beyond the cap in ALL 8 of its bands.  Fixture
#: max bucket at sf0.01 is 19, so the sf0.01 result is cap-invariant.
BUCKET_CAP = 64


# --- shared banding machinery (n42 + n49) -------------------------------
# The band-key construction, the BUCKET_CAP gate, and the hashed-set
# build are parity-critical: n49's persisted-index layout must be
# byte-identical to n42's pipeline on BOTH engines, so each exists
# exactly once here (the SRC_FP_CTES discipline — code-review r8), and
# one chain of them, ``lsh_index.sketch_docs``, builds every sketch.


def band_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bk) from a (doc_id, seed, mn) signature frame:
    the band key concatenates the band's minima IN SEED ORDER via
    parity-conditional mins (deterministic — no collect_list ordering
    hazard).  Checkpointed: consumers join this frame on both sides,
    and without the barrier each side would rebuild the whole
    shingle-explode x seeds x min sketch (the n36/n29 lever)."""
    return (
        sig.groupBy("doc_id", (F.col("seed") / ROWS).cast("int").alias("band"))
        .agg(
            F.concat_ws(
                "-",
                F.min(F.when(F.col("seed") % ROWS == 0, F.col("mn"))),
                F.min(F.when(F.col("seed") % ROWS == 1, F.col("mn"))),
            ).alias("bk")
        )
        .localCheckpoint(eager=False)
    )


def gate_buckets(bands: DataFrame) -> DataFrame:
    """BUCKET_CAP saturation guard: rank within each (band, bk) bucket,
    keep the cap-lowest doc_ids.  The rank window shares the (band, bk)
    partitioning the bucket join shuffles on anyway — no extra Exchange
    class — and turns the quadratic saturated-bucket term linear."""
    w = Window.partitionBy("band", "bk").orderBy("doc_id")
    return (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BUCKET_CAP)
        .drop("rn")
    )


def hashed_sets(shs: DataFrame) -> DataFrame:
    """(doc_id, hs): hashed BIGINT shingle sets for the verify stage —
    array ops over BIGINTs are ~5x cheaper than string sets, and both
    engines hash with the same polyhash so even a collision changes the
    result identically on both sides (p ~ |union|^2/2p ~ 1e-6)."""
    return shs.select(
        "doc_id",
        F.array_distinct(F.transform("s", lambda q: _polyhash(q))).alias("hs"),
    ).localCheckpoint(eager=False)


#: oracle fragment: the band-key CTE over `sig` (expects _duck_sig_cte in scope)
DUCK_BANDS_CTE = f"""bands AS (
        SELECT doc_id, seed // {ROWS} AS band,
               concat_ws('-',
                   MIN(CASE WHEN seed % {ROWS} = 0 THEN mn END),
                   MIN(CASE WHEN seed % {ROWS} = 1 THEN mn END)) AS bk
        FROM sig GROUP BY doc_id, seed // {ROWS}
    )"""


def duck_gated_cte(name: str, pred: str | None = None) -> str:
    """Oracle fragment: BUCKET_CAP-gated bucket membership over `bands`,
    optionally restricted to one side (n49 caps index and shard
    memberships independently — the rank cannot see the other side)."""
    where = f" WHERE {pred}" if pred else ""
    return f"""{name} AS (
        SELECT doc_id, band, bk FROM (
            SELECT doc_id, band, bk,
                   ROW_NUMBER() OVER (PARTITION BY band, bk
                                      ORDER BY doc_id) AS rn
            FROM bands{where})
        WHERE rn <= {BUCKET_CAP}
    )"""


#: oracle fragment: hashed shingle sets over `shs`
DUCK_HSETS_CTE = (
    "hsets AS (\n        SELECT doc_id, "
    f"list_distinct(list_transform(s, q -> {_DUCK_PH_Q})) AS hs\n"
    "        FROM shs\n    )"
)


@register(
    "n42_minhash_banded_lsh",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), shs AS (
        SELECT doc_id, {_DUCK_SH2} AS s FROM t
    ), sh AS (
        SELECT doc_id, unnest(s) AS sh FROM shs
    ), {_duck_sig_cte().lstrip()}, {DUCK_BANDS_CTE},
    {duck_gated_cte("gated")}, cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_bands_hit
        FROM gated a JOIN gated b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), {DUCK_HSETS_CTE}
    SELECT c.doc_a, c.doc_b, c.n_bands_hit,
           ROUND(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.hs, y.hs))), 6) AS jaccard,
           CAST(CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                len(list_distinct(list_concat(x.hs, y.hs))) >= {THRESHOLD}
                AS INT) AS is_near_dup
    FROM cand c
    JOIN hsets x ON x.doc_id = c.doc_a
    JOIN hsets y ON y.doc_id = c.doc_b
    """,
)
def n42_minhash_banded_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N42 (extension): the full banded MinHash-LSH pipeline — engine-
    neutral 16-min sketch, 8 bands x 2 rows, bucket self-join for
    candidates (O(colliding pairs), never all-pairs), exact-Jaccard
    verify with the ~0.35 banding threshold — every stage deterministic
    and hash-checked. AQE skew-join posture re-asserted for hot buckets
    (the n32 contract)."""
    from ..lsh_index import sketch_docs  # in-body: lsh_index imports this module

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # the shared sketch assembly — ONE hashed-set frame feeds the sketch
    # and both verify sides
    bands, hsets = sketch_docs(d)
    # PINNED (OPTIMIZATION r17, guide §1.2 step 1): the bucket self-join
    # consumes this frame on BOTH sides, and without the barrier the gate
    # window (Exchange + double Sort + WindowGroupLimit + Window) runs
    # once per side — 2x in the committed before-plan (plans/r17)
    gated = gate_buckets(bands).localCheckpoint(eager=False)
    a = gated.select(
        F.col("doc_id").alias("doc_a"),
        F.col("band").alias("band_a"),
        F.col("bk").alias("bka"),
    )
    b = gated.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("bk").alias("bkb"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bka") == F.col("bkb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
    )
    # verify over HASHED shingle sets: BIGINT array_intersect/union is ~5x
    # cheaper than string-set ops over ~50-element arrays (measured 4.0 s
    # -> ~1 s for the 97k-candidate verify at sf0.1). Both engines hash
    # with the same polyhash, so even a collision changes the result
    # identically on both sides (probability ~|union|^2/2p ~ 1e-6).
    x = hsets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sx"))
    y = hsets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sy"))
    jac = F.size(F.array_intersect("sx", "sy")).cast("double") / F.size(
        F.array_union("sx", "sy")
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands_hit",
            F.round(jac, 6).alias("jaccard"),
            (jac >= THRESHOLD).cast("int").alias("is_near_dup"),
        )
    )
