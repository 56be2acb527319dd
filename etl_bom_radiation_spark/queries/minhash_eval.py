"""MinHash estimator accuracy, oracle-verified (LLM-pipeline extension).

The production near-dup path (n02) rides Spark ML's MinHashLSH, whose
hash family is JVM-internal — the driver can only rows-check it.
``n36_minhash_estimate`` closes that verification gap: an ENGINE-NEUTRAL
MinHash — ONE 31-base polynomial hash per distinct shingle (the
primitive n10/n11 already verify against DuckDB) fed through 16 affine
universal-hash permutations ``(a_i*x + b_i) mod p`` (Broder's classic
construction) — computed side-by-side with the exact Jaccard on
consecutive doc pairs, plus the estimation error.  The math the LSH
path relies on — ``P(min_a = min_b) = J(A,B)`` per permutation — is
thereby exercised under the driver's exact hash gate, not just a recall
pytest.

Scale shape (the part that must survive 100 TB):

* The signature build hashes each distinct shingle ONCE (the only
  interpreted higher-order-function work) and fans out a BIGINT x 16
  broadcast-joined affine permutations — pure codegen arithmetic.  The
  earlier per-seed string rehash multiplied the interpreted HOF cost by
  16 and dominated the whole pipeline (~20 s -> ~2 s at sf0.1).  The
  min-aggregate per (doc, seed) map-side combines to |docs| x SEEDS
  rows before the shuffle; the signature table is 16 BIGINTs per doc —
  the usual MinHash sketch compression.
* The pair comparison joins SIGNATURES (16 rows per doc), never shingle
  sets; the exact-Jaccard column here is the sf-scale ground truth and
  pairs are linear (consecutive ids, n12's convention) — the all-pairs
  regime is exactly what the estimator exists to avoid.
* Integer hash mins and match counts; the two ratios are single IEEE
  divisions rounded on both engines.

Registered after ``provenance`` in ``queries.__init__._MODULES`` — new
round-4 entries must not queue-jump the never-driver-verified queries at
the registry front (VERDICT r3 #1).

Reference parity: no reference analog; extends SURVEY §2.H alongside
n02 (MinHash LSH) and n12 (exact n-gram Jaccard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables, register
from .llm_queries import (
    _DUCK_TOKENS,
    _duck_polyhash,
    _polyhash,
    _shingles,
    _tokens,
)

#: number of hash permutations in the sketch (16 BIGINTs per doc)
SEEDS = 16

#: DuckDB 2-gram shingles with _shingles' degenerate-doc clamp
_DUCK_SH2 = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1), "
    "i -> concat_ws(' ', toks[i], toks[i+1])))"
)

_POLY_MOD = 2147483647  # 2^31 - 1, prime (the repo's polyhash modulus)

#: the permutation family: h_i(x) = (a_i*x + b_i) mod p over ONE base hash
#: x = polyhash(shingle). This is the textbook universal-hash MinHash
#: (Broder-style: one expensive string hash, k cheap affine permutations)
#: — the per-SEED char-level rehash it replaces multiplied the interpreted
#: higher-order-function work by k and dominated the sketch build
#: (measured ~20 s -> ~2 s at sf0.1 for the n36/n42 pipelines).
#: Constants are materialized HERE as literals (Knuth multiplicative step,
#: reduced mod p in Python) so both engines consume identical numbers —
#: no cross-engine modular arithmetic to drift.
AFFINE = [
    ((i * 2654435761 + 1) % _POLY_MOD, (i * 40503 + 12345) % _POLY_MOD)
    for i in range(SEEDS)
]
assert all(a != 0 for a, _ in AFFINE)

#: DuckDB VALUES table of the same constants
_DUCK_SEEDS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(AFFINE)
)

#: shared oracle CTE: shingle base hashes -> affine sketch minima.
#: expects CTEs `t(doc_id, toks)` / `shs(doc_id, s)` / `sh(doc_id, sh)`
#: to be in scope (n36 and n42 both build them identically).
def _duck_sig_cte() -> str:
    return f"""
    seeds(seed, a, b) AS (VALUES {_DUCK_SEEDS}),
    based AS (
        SELECT doc_id, {_duck_polyhash("sh")} AS x FROM sh
    ), sig AS (
        SELECT doc_id, seed, min((a * x + b) % {_POLY_MOD}) AS mn
        FROM based CROSS JOIN seeds GROUP BY doc_id, seed
    )"""


def sketch_from_hashes(based: DataFrame) -> DataFrame:
    """MinHash signature frame (doc_id, seed, mn) from a PRE-HASHED
    (doc_id, x) frame: the 16 affine permutations as codegen arithmetic
    (BIGINT-safe: a, x < 2^31 so a*x+b < 2^63), min per (doc, seed), all
    SEEDS minima in ONE aggregation pass, unpivoted once the frame is
    doc-sized — a seed crossJoin would shuffle SEEDS rows per doc (64M
    rows at sf0.1; DRIFT_r08).

    n36 feeds it one polyhash per exploded shingle;
    ``lsh_index.sketch_docs`` (n42, n49, the persisted index) feeds it
    the exploded hashed sets its verify stage needs anyway — hash-once
    (OPTIMIZATION r16: the sketch's hash pass 0.95 s -> 0.27 s at
    sf0.1).  min() over a doc's distinct hashes equals min() over its
    shingles' hashes, so both inputs give bit-identical values."""
    mins = based.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % _POLY_MOD).alias(f"m{i}")
            for i, (a, b) in enumerate(AFFINE)
        ]
    )
    # unpivot to the (doc_id, seed, mn) contract: stack over 16 columns
    # of an already doc-sized frame (SEEDS rows per doc, same as before,
    # but AFTER the aggregation instead of before it)
    pairs = ", ".join(f"{i}, m{i}" for i in range(SEEDS))
    return mins.select(
        "doc_id", F.expr(f"stack({SEEDS}, {pairs}) AS (seed, mn)")
    )


@register(
    "n36_minhash_estimate",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), shs AS (
        SELECT doc_id, {_DUCK_SH2} AS s FROM t
    ), sh AS (
        SELECT doc_id, unnest(s) AS sh FROM shs
    ), {_duck_sig_cte().lstrip()}, est AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS BIGINT)
                   AS matching_mins
        FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1 AND b.seed = a.seed
        GROUP BY a.doc_id, b.doc_id
    ), exact AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                     len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard_exact
        FROM shs a JOIN shs b ON b.doc_id = a.doc_id + 1
    )
    SELECT e.doc_a, e.doc_b, x.jaccard_exact, e.matching_mins,
           ROUND(CAST(e.matching_mins AS DOUBLE) / {SEEDS}, 6) AS minhash_est,
           ROUND(abs(x.jaccard_exact
                     - CAST(e.matching_mins AS DOUBLE) / {SEEDS}), 6) AS abs_err
    FROM est e JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    """,
)
def n36_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N36 (extension): engine-neutral MinHash sketch (one polyhash per
    distinct 2-gram shingle + 16 affine universal-hash permutations) vs
    exact Jaccard on
    consecutive doc pairs, with the estimation error — the LSH path's
    core identity P(min_a = min_b) = J, verified under the exact hash
    gate instead of only a recall test."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # tokenize-once discipline: materialize the token array before shingling
    toks = d.select("doc_id", _tokens(F.col("text")).alias("ws"))
    # materialize-before-explode (round 6): without the barrier Catalyst
    # collapses the shingle HOF stack into the Generate and re-evaluates it
    # per OUTPUT row — measured 7.0 s vs 0.08 s for this explode at sf0.1.
    # The checkpoint also pins the frame for its three consumers (sketch +
    # both exact-branch sides).
    shs = toks.select(
        "doc_id", F.array_distinct(_shingles("ws", 2)).alias("s")
    ).localCheckpoint(eager=False)
    sh = shs.select("doc_id", F.explode("s").alias("sh"))
    # lazy localCheckpoint (the n29/n30 lever): the signature frame feeds
    # BOTH pair branches — without the barrier the whole base-hash +
    # permutation + min-agg subtree (and its corpus scan) runs twice
    sig = sketch_from_hashes(
        sh.select("doc_id", _polyhash(F.col("sh")).alias("x"))
    ).localCheckpoint(eager=False)

    a = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("seed").alias("sa"), F.col("mn").alias("ma")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("seed").alias("sb"), F.col("mn").alias("mb")
    )
    est = (
        a.join(b, (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("sb") == F.col("sa")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.when(F.col("ma") == F.col("mb"), 1).otherwise(0))
            .cast("long")
            .alias("matching_mins")
        )
    )
    # single-read consecutive pairing (OPTIMIZATION r17, VERDICT r16 #4):
    # the former self-join read the pinned shingle frame on BOTH pair
    # sides and broadcast the ENTIRE corpus-side frame (every doc's
    # string shingle array — a broadcast whose size is the corpus, i.e.
    # over the 8 GB cap long before the target scale).  Instead each doc
    # row is exploded to its two pair roles — (doc_id, a-side) and
    # (doc_id - 1, b-side) — and one groupBy(pair) reassembles the pair:
    # ONE scan of the pinned frame, no corpus-sized broadcast, and the
    # shuffle moves each shingle set exactly twice (guide §1.2/§2.3).
    # A pair row survives iff both roles exist — exactly the rows the
    # inner self-join on doc_b = doc_a + 1 produced (each group holds at
    # most one row per role, doc_id being unique, so the max() is just
    # "the present side").
    # NULL doc_ids never paired under the old equality join (NULL = x+1
    # matches nothing); the group key would instead MERGE them into one
    # bogus pair group, so they are filtered up front — same row set.
    pr = shs.filter(F.col("doc_id").isNotNull()).select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("pid"),
                    F.lit(0).alias("role"),
                    F.col("s").alias("ps"),
                ),
                F.struct(
                    (F.col("doc_id") - F.lit(1)).alias("pid"),
                    F.lit(1).alias("role"),
                    F.col("s").alias("ps"),
                ),
            )
        ).alias("e")
    ).select("e.pid", "e.role", "e.ps")
    both = (
        pr.groupBy("pid")
        .agg(
            F.max(F.when(F.col("role") == 0, F.col("ps"))).alias("sa"),
            F.max(F.when(F.col("role") == 1, F.col("ps"))).alias("sb"),
        )
        .filter(F.col("sa").isNotNull() & F.col("sb").isNotNull())
    )
    exact = both.select(
        F.col("pid").alias("doc_a"),
        (F.col("pid") + F.lit(1)).alias("doc_b"),
        F.round(
            F.size(F.array_intersect("sa", "sb")).cast("double")
            / F.size(F.array_union("sa", "sb")),
            6,
        ).alias("jaccard_exact"),
    )
    mh_est = F.col("matching_mins").cast("double") / SEEDS
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "jaccard_exact",
        "matching_mins",
        F.round(mh_est, 6).alias("minhash_est"),
        F.round(F.abs(F.col("jaccard_exact") - mh_est), 6).alias("abs_err"),
    )
