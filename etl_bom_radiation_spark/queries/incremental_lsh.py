"""Incremental near-dup dedup: probe a new shard against a persisted
LSH index (LLM-pipeline extension).

``n49_incremental_lsh_dedup`` is the posture every 100-TB corpus
actually runs near-dedup in: the corpus is already sketched, banded and
stored (n42's pipeline, run ONCE at index build), and each arriving
shard — here the ~10% of docs with ``doc_id % 10 == 7`` — is sketched
fresh and PROBED against that index, never the other way around.  n31
verifies this incremental contract for exact dedup (digest anti-join);
this closes the near-dup half.  Per incoming doc the decision is:

* ``drop_index_dup``  — verified near-dup (Jaccard >= 0.35) of some
  already-indexed doc;
* ``drop_shard_dup``  — not an index dup, but a verified near-dup of an
  EARLIER (lower doc_id) doc in the same incoming shard (min-id
  survivor, n26's convention — pairwise, not chained: chained survivor
  semantics is n20's graph job);
* ``keep``            — everything else.

Scale shape (what must hold when the index is 100 TB and the shard is
its daily 0.1%):

* The index-side artifacts (band frame: 8 rows/doc; hashed shingle
  sets: 1 array/doc) are built once here for the one-shot query but are
  the PERSISTED tables in production — the corpus text is scanned
  exactly once (every stage below reads the checkpointed frames, plan-
  asserted: zero parquet FileScans after materialization).
* The probe join BROADCASTS the incoming band frame onto the index's
  bucket layout — the index never shuffles for an arriving shard.  The
  plan shows BroadcastHashJoin with the incoming side as the build
  side; an Exchange of the index band frame here would re-shuffle the
  whole corpus per increment, which is the anti-pattern this entry
  exists to fence.
* Both bucket memberships are capped (n42's ``BUCKET_CAP`` saturation
  guard) — the index's at index-build time over indexed docs only
  (caps cannot depend on future arrivals), the shard's within the
  shard — so candidate volume stays O(buckets x cap) under boilerplate
  saturation.
* Verify joins hashed BIGINT shingle sets back to only the candidate
  pairs — linear in candidates, the n42 contract.

Every stage is deterministic integer arithmetic shared with n42
(``lsh_index.sketch_docs``), so decisions, candidate counts and
best-Jaccard hash-match DuckDB exactly.

Registered after ``heavy_hitters`` in ``queries.__init__._MODULES`` —
new entries must not queue-jump the stalest-evidence queries at the
registry front (VERDICT r3 #1; net-new budget this round: VERDICT r7
#2 caps it at 5, this is #1).

Reference parity: no reference analog; extends SURVEY §2.H's near-dup
family (n02 production path, n36 estimator gate, n42 mechanics gate,
this the incremental-arrival gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables, register
from .banded_lsh import (
    DUCK_BANDS_CTE,
    DUCK_HSETS_CTE,
    THRESHOLD,
    duck_gated_cte,
    gate_buckets,
)
from .llm_queries import _DUCK_TOKENS
from .minhash_eval import _DUCK_SH2, _duck_sig_cte

#: which doc_ids form the "arriving" shard: doc_id % SHARD_MOD == SHARD_REM
SHARD_MOD = 10
SHARD_REM = 7


def shard_verdicts(
    idx_gated: DataFrame,
    inc_gated: DataFrame,
    hsets_all: DataFrame,
    inc_hsets: DataFrame,
    spine: DataFrame,
) -> DataFrame:
    """The probe/verify/verdict assembly shared by the one-shot n49
    query and the persisted-index API (``lsh_index.probe_lsh_index``) —
    ONE implementation so the two paths cannot drift (the banded_lsh
    helper discipline, code-review r8).

    ``idx_gated``/``inc_gated``: capped (doc_id, band, bk) bucket
    memberships (the index's capped at build time, the shard's within
    the shard); ``hsets_all``: (doc_id, hs) for every doc that can
    appear as a candidate's `other` side (index + shard);
    ``inc_hsets``: the shard-sized slice; ``spine``: the incoming
    doc_ids (one row per arriving doc, preserved into the result).

    Plan shape: the shard side broadcasts everywhere — the index is
    probed, never shuffled (no SortMergeJoin anywhere; asserted in
    tests for both callers)."""
    # the incoming band frame is shard-sized: broadcast it so neither the
    # probe nor the in-shard pairing ever shuffles the index.  PINNED
    # first (OPTIMIZATION r17, guide §1.2 step 1): this frame feeds THREE
    # consumers (the index probe join plus both sides of the in-shard
    # pairing), and without the barrier Catalyst re-derives the whole
    # gate-window subtree — Exchange + double Sort + WindowGroupLimit +
    # Window over the band frame — once per consumer (3x in the committed
    # n49 before-plan, plans/r17).  The pin computes the gate once and
    # lets the identical broadcast builds reuse one exchange.
    inc_gated = F.broadcast(inc_gated.localCheckpoint(eager=False))
    inc_a = inc_gated.select(
        F.col("doc_id").alias("doc"),
        F.col("band").alias("nb"),
        F.col("bk").alias("nk"),
    )
    cand_idx = (
        idx_gated.join(
            inc_a,
            (F.col("band") == F.col("nb")) & (F.col("bk") == F.col("nk")),
        )
        .select("doc", F.col("doc_id").alias("other"))
        .withColumn("kind", F.lit("index"))
    )
    inc_b = inc_gated.select(
        F.col("doc_id").alias("later"),
        F.col("band").alias("bb"),
        F.col("bk").alias("kb"),
    )
    # a = earlier doc (survivor), b = later doc (the drop candidate)
    cand_shard = (
        inc_a.join(
            inc_b,
            (F.col("nb") == F.col("bb"))
            & (F.col("nk") == F.col("kb"))
            & (F.col("doc") < F.col("later")),
        )
        .select(F.col("later").alias("doc"), F.col("doc").alias("other"))
        .withColumn("kind", F.lit("shard"))
        .select("doc", "other", "kind")
    )
    # ONE distinct after the union instead of one per branch
    # (OPTIMIZATION r17, guide §2.4): `kind` is constant within a branch
    # and differs across them, so distinct-over-union collapses exactly
    # the same rows the two per-branch distincts did — same candidate
    # set, one candidate shuffle exchange instead of two per probe.
    cand = cand_idx.select("doc", "other", "kind").unionByName(cand_shard).distinct()
    # verify without EVER shuffling the index-side hset table: the `doc`
    # half of every pair is an incoming doc (shard-sized hset slice,
    # broadcast), and the enriched candidate frame is itself
    # candidate-sized, so it broadcasts onto the full hset frame — the
    # index streams map-side through a BroadcastHashJoin build
    x = F.broadcast(
        inc_hsets.select(F.col("doc_id").alias("doc"), F.col("hs").alias("sx"))
    )
    y = hsets_all.select(F.col("doc_id").alias("other"), F.col("hs").alias("sy"))
    jac = F.size(F.array_intersect("sx", "sy")).cast("double") / F.size(
        F.array_union("sx", "sy")
    )
    verd = y.join(F.broadcast(cand.join(x, "doc")), "other").select(
        "doc", "kind", jac.alias("jac")
    )
    agg = verd.groupBy("doc").agg(
        F.sum(F.when(F.col("kind") == "index", 1).otherwise(0))
        .cast("bigint")
        .alias("nic"),
        F.sum(F.when(F.col("kind") == "shard", 1).otherwise(0))
        .cast("bigint")
        .alias("nsc"),
        F.max("jac").alias("bj"),
        F.max(
            F.when(
                (F.col("kind") == "index") & (F.col("jac") >= THRESHOLD), 1
            ).otherwise(0)
        ).alias("idx_dup"),
        F.max(
            F.when(
                (F.col("kind") == "shard") & (F.col("jac") >= THRESHOLD), 1
            ).otherwise(0)
        ).alias("shard_dup"),
    )
    # both sides are shard-sized; broadcast the per-doc verdicts so the
    # plan stays Exchange-free end-to-end after the candidate stage
    agg = F.broadcast(agg)
    return spine.join(agg, spine.doc_id == agg.doc, "left").select(
        "doc_id",
        F.coalesce("nic", F.lit(0).cast("bigint")).alias("n_index_cand"),
        F.coalesce("nsc", F.lit(0).cast("bigint")).alias("n_shard_cand"),
        F.round("bj", 6).alias("best_jaccard"),
        F.when(F.col("idx_dup") == 1, "drop_index_dup")
        .when(F.col("shard_dup") == 1, "drop_shard_dup")
        .otherwise("keep")
        .alias("decision"),
    )


def duck_verdict_ctes(tag: str, idx_gated: str, inc_gated: str) -> str:
    """Oracle fragment: the probe/verify/verdict assembly over named gated
    frames — ``cand{tag}``/``verd{tag}``/``agg{tag}``, the SQL mirror of
    :func:`shard_verdicts` (expects ``hsets`` in scope).  ONE copy for
    every oracle that runs the assembly (n49 once, n50 twice against two
    index generations) — the banded_lsh parity discipline."""
    return f"""cand{tag} AS (
        SELECT DISTINCT n.doc_id AS doc, i.doc_id AS other,
               'index' AS kind
        FROM {inc_gated} n JOIN {idx_gated} i
          ON n.band = i.band AND n.bk = i.bk
        UNION ALL
        SELECT DISTINCT b.doc_id AS doc, a.doc_id AS other,
               'shard' AS kind
        FROM {inc_gated} a JOIN {inc_gated} b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ), verd{tag} AS (
        SELECT c.doc, c.kind,
               CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
               len(list_distinct(list_concat(x.hs, y.hs))) AS jac
        FROM cand{tag} c
        JOIN hsets x ON x.doc_id = c.doc
        JOIN hsets y ON y.doc_id = c.other
    ), agg{tag} AS (
        SELECT doc,
               CAST(SUM(CASE WHEN kind = 'index' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nic,
               CAST(SUM(CASE WHEN kind = 'shard' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nsc,
               MAX(jac) AS bj,
               MAX(CASE WHEN kind = 'index' AND jac >= {THRESHOLD}
                        THEN 1 ELSE 0 END) AS idx_dup,
               MAX(CASE WHEN kind = 'shard' AND jac >= {THRESHOLD}
                        THEN 1 ELSE 0 END) AS shard_dup
        FROM verd{tag} GROUP BY doc
    )"""


def duck_verdict_tail(tag: str, where: str) -> str:
    """Oracle fragment: the per-incoming-doc verdict projection over
    ``agg{tag}`` (the :func:`shard_verdicts` output contract), restricted
    to the incoming spine by ``where``."""
    return f"""SELECT d.doc_id,
           COALESCE(a.nic, 0) AS n_index_cand,
           COALESCE(a.nsc, 0) AS n_shard_cand,
           ROUND(a.bj, 6) AS best_jaccard,
           CASE WHEN a.idx_dup = 1 THEN 'drop_index_dup'
                WHEN a.shard_dup = 1 THEN 'drop_shard_dup'
                ELSE 'keep' END AS decision
    FROM documents d LEFT JOIN agg{tag} a ON a.doc = d.doc_id
    WHERE {where}"""


@register(
    "n49_incremental_lsh_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), shs AS (
        SELECT doc_id, {_DUCK_SH2} AS s FROM t
    ), sh AS (
        SELECT doc_id, unnest(s) AS sh FROM shs
    ), {_duck_sig_cte().lstrip()}, {DUCK_BANDS_CTE},
    {duck_gated_cte("idx_gated", f"doc_id % {SHARD_MOD} <> {SHARD_REM}")},
    {duck_gated_cte("inc_gated", f"doc_id % {SHARD_MOD} = {SHARD_REM}")},
    {DUCK_HSETS_CTE},
    {duck_verdict_ctes("", "idx_gated", "inc_gated")}
    {duck_verdict_tail("", f"d.doc_id % {SHARD_MOD} = {SHARD_REM}")}
    """,
)
def n49_incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N49 (extension): incremental near-dup — sketch the arriving shard
    (doc_id % 10 == 7), probe it against the persisted banded index via
    a BROADCAST of the incoming band frame (the index never shuffles for
    an increment), dedup within the shard (min-id survivor), verify only
    candidates with exact hashed-set Jaccard. Per-doc keep/drop decision
    with candidate counts and best verified Jaccard."""
    from ..lsh_index import sketch_docs  # in-body: lsh_index imports this module

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # ONE corpus scan: the pinned hashed-set frame (one row per doc) feeds
    # the sketch, both verify sides, and the incoming-doc spine (no second
    # FileScan of documents for the final left join)
    bands, hsets = sketch_docs(d)
    # `%` (sign-of-dividend), NOT F.pmod: the oracle's `%` is DuckDB's
    # sign-of-dividend remainder, so pmod would route a negative doc_id
    # into the shard on Spark but onto the index side in the oracle — a
    # row-set divergence under the hash gate (code-review r8)
    is_inc = (F.col("doc_id") % SHARD_MOD) == SHARD_REM

    # capped bucket membership computed over ONE side's docs only: the
    # index cap is fixed at build time (cannot see arrivals), the shard
    # cap sees only the shard (shared gate_buckets — the n42 gate)
    idx_gated = gate_buckets(bands.filter(~is_inc))
    inc_gated = gate_buckets(bands.filter(is_inc))
    return shard_verdicts(
        idx_gated,
        inc_gated,
        hsets,
        hsets.filter(is_inc),
        hsets.select("doc_id").filter(is_inc),
    )
