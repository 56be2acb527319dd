"""Persisted banded-LSH near-dup index: build once, probe per arrival,
fold admissions back in without a rebuild.

``queries.incremental_lsh`` (n49) demonstrates the incremental near-dup
SEMANTICS as a one-shot oracle-verified query; this module is the
production form of the same workflow — the index artifacts n49 builds
in-query are here written as parquet tables, and each arriving batch is
probed against them without touching (or re-sketching) the indexed
corpus:

* ``build_lsh_index(spark, docs, index_dir)``: tokenize -> 2-gram
  shingles -> 16-min engine-neutral sketch -> 8x2 band keys ->
  BUCKET_CAP-gated bucket membership (capped at build time — the cap
  cannot depend on future arrivals), persisted as ``bands.parquet``
  (8 rows/doc) alongside ``hsets.parquet`` (hashed BIGINT shingle set,
  1 array/doc: the verify-stage material).  At 100 TB these are the
  only tables an arrival ever reads — the corpus text is never
  reopened.
* ``probe_lsh_index(spark, index_dir, batch)``: sketch ONLY the batch,
  then run the shared probe/verify/verdict assembly
  (``incremental_lsh.shard_verdicts`` — one implementation, so the
  persisted path cannot drift from the hash-verified query): the
  batch's band frame broadcasts onto the index buckets, the enriched
  candidate frame broadcasts onto the index hset table, and the
  verdicts come back per batch doc (keep / drop_index_dup /
  drop_shard_dup + candidate counts + best verified Jaccard).  No
  SortMergeJoin anywhere; the index parquet is scanned, never
  shuffled.
* ``update_lsh_index(spark, index_dir, kept_batch)``: fold the docs a
  probe ADMITTED into the index by APPEND — their hsets append as-is;
  their band rows are cap-gated against the occupancy the touched
  (band, bk) buckets already have, so the gate recompute is local to
  the touched buckets (batch-bounded, never index-bounded) and no
  existing index row is ever rewritten.  This is the
  ``refresh_manifest`` discipline applied to the LSH index: the next
  probe sees the admitted docs without any rebuild.

Scale envelope (ADVICE r8): the probe's plan shape broadcasts the
batch band frame, the batch hset slice, the enriched candidate frame
and the per-doc verdict aggregate — so the real bound is that the
BATCH (not the index) plus its candidate fan-out must fit Spark's
broadcast limit (``spark.sql.autoBroadcastJoinThreshold`` semantics;
hard ceiling 8 GB).  A 100 TB INDEX is fine; a 100 GB arriving batch
is not one probe call — ``admit_batch(..., max_docs=N)`` splits it
into id-ordered broadcast-sized sub-batches, probing and folding each
in turn (admission contract in its docstring).

Per-arrival IO floor: a probe scans BOTH index tables once, map-side,
shuffle-free — the bands table (8 short rows/doc, ~3% of corpus bytes)
and the hset table (the hashed shingle sets, ~10-15% of corpus bytes,
the dominant term).  That floor is embarrassingly parallel and paid
once per arrival, not per candidate; if arrival cadence ever makes it
bind, the lever is candidate-id pushdown — the candidate set is
batch-bounded and each update generation's files cover a disjoint id
range, so a static ``doc_id IN (...)`` predicate on the verify scan
file-prunes to the generations that hold candidates.  Not implemented:
at bench scale both tables are sub-MB and the win is unmeasurable, so
the cut would be speculative code.

Crash consistency: an update appends data files FIRST and publishes
the meta high-water mark LAST — the mark is the commit.  Every read
filters to the committed snapshot (ids at or below the mark; parquet
min/max stats skip uncommitted append files outright, so the filter is
free on a healthy index), and ``vacuum_lsh_index`` deletes the
leftover FILES (orphan rows never share a file with committed ones,
so the repair rewrites nothing) so a crashed batch can be retried.
``compact_lsh_index`` periodically folds the accumulated per-update
generation files back into a few id-sorted files per table — layout
only, content and probe results identical.

Exactly-once streaming admission: ``admit_batch(..., epoch=N)`` is an
idempotent ``foreachBatch`` sink — fold commits record the epoch
atomically with the high-water mark, so a restarted stream's replayed
micro-batch reproduces its verdicts bit-identically (each sub-batch
probed against the reconstructed as-of index view, exact under
append-only ids) and skips the folds that already committed, instead
of tripping the stale-id guard (protocol in the ``admit_batch``
docstring; pytest-locked for full, mid-sub-batch and mid-append
crash replays).

Append-only id discipline: ``update_lsh_index`` requires every new
doc_id to exceed ``max_doc_id`` recorded in the index meta (checked,
not assumed).  Under it, append-plus-local-gate is EXACTLY the capped
membership a from-scratch rebuild over the union would produce: the
cap keeps the BUCKET_CAP lowest doc_ids per bucket, and monotone ids
mean existing members can never be evicted by later arrivals
(pytest-locked rebuild parity, tests/test_scale.py).  Re-arrivals are
therefore impossible by construction in the fold path; the probe path
additionally drops index rows whose doc_id re-appears in the batch
(defensive anti-join, ADVICE r8) so a re-probed doc is judged against
the index minus itself instead of fanning out the verify join.

Parity with the one-shot query is pytest-locked: building the index
from the n49 index side and probing the n49 shard must reproduce the
query's rows exactly (tests/test_scale.py).

Cluster-mode durability note (VERDICT r16 #8): the module's lazy
``localCheckpoint`` pins produce EXECUTOR-LOCAL blocks with lineage
truncated — on a cluster, losing an executor loses its blocks and they
are NOT recomputable, so a job consuming a pinned frame after such a
loss fails (in ``local[*]`` the executor is the driver; the hazard is
moot).  That is an accepted trade here because no pinned frame is the
durability story: every pin is scoped to ONE driver call (a probe, a
fold, one admit_batch invocation), and the crash/retry protocol
re-reads the PERSISTED parquet tables plus ``meta.json`` — a failed
call is retried from storage (vacuum + replay), never from cached
blocks.  The committed index itself is never pinned: every probe and
fold, including each sub-batch cycle of a split admission, reads it
fresh from storage (``_read_meta`` + ``_committed``).  On clusters
where mid-call executor loss is routine, swap the pins (the fold's
band frame, the verdict frame, the split's tagged batch) for
``persist(StorageLevel.MEMORY_AND_DISK)`` (recomputable lineage, at
re-derivation cost) or reliable ``checkpoint()`` — the sharing
structure is unchanged either way.

Reference parity: no reference analog (the reference's pipeline has no
dedup at all); this is the LLM-training-corpus maintenance workflow
SURVEY §2.H's near-dup family exists to serve.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries.banded_lsh import BUCKET_CAP, band_frame, gate_buckets, hashed_sets
from .queries.incremental_lsh import shard_verdicts
from .queries.llm_queries import _shingles, _tokens
from .queries.minhash_eval import sketch_from_hashes

_META = "meta.json"

#: Index dirs this DRIVER PROCESS has vacuumed and not since seen a fold
#: fail on.  Orphan rows can only be created by a fold that died
#: mid-append, so :func:`admit_batch`'s epoch-mode repair pass runs once
#: per process per index instead of per micro-batch; a failed fold
#: evicts its dir (``_fold_frames``) and a process crash loses the cache
#: entirely — either way the next epoch-bearing call re-vacuums.
_KNOWN_CLEAN: set[str] = set()


def sketch_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(UNGATED band frame, hashed-set frame) for a (doc_id, text, ...)
    frame — the one tokens -> distinct 2-gram shingles -> hashed sets ->
    16-min sketch -> 8x2 bands assembly, shared by n42, n49 and every
    index call here, one text pass.  Callers gate: ``update_lsh_index``
    must cap against the index's existing bucket occupancy, not the
    batch alone.  Hash-once (OPTIMIZATION r16, sketch_from_hashes
    docstring): the hashed-set frame is built first and the sketch
    explodes it — one polyhash per (doc, distinct shingle), not two.
    ``hashed_sets`` and ``band_frame`` are called through this module's
    namespace, where traced runs wrap them."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("ws"))
    # UNPINNED since OPTIMIZATION r17 (ADVICE r16): hsets is shs' only
    # consumer after the hash-once refactor, so the former checkpoint of
    # the distinct-shingle STRING arrays bought no reuse — the hsets pin
    # (hashed_sets) is the shared barrier
    shs = toks.select("doc_id", F.array_distinct(_shingles("ws", 2)).alias("s"))
    hsets = hashed_sets(shs)
    bands = band_frame(
        sketch_from_hashes(hsets.select("doc_id", F.explode("hs").alias("x")))
    )
    return bands, hsets


def _meta_path(spark: SparkSession, index_dir: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{_META}")
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _slurp(spark: SparkSession, fs, p) -> str:
    """Full contents of a (small) Hadoop FS file as a UTF-8 string."""
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _valid_meta(raw: str) -> bool:
    """Whether ``raw`` is a COMPLETE meta payload (parses, has an integer
    mark) — the gate :func:`_repair_meta` applies before promoting a tmp
    (ADVICE r10: 'the tmp is complete by the write protocol' only holds
    once SOME meta has existed; a crash inside the FIRST-ever
    ``_write_meta`` of a new index can leave a torn tmp with no live
    meta, and promoting it would turn every later read into a JSON parse
    error instead of the honest missing-meta failure).  Soundness note:
    a torn write is always a strict PREFIX of the payload, and no strict
    prefix of a JSON object parses (the closing brace is the final
    byte) — so this check cannot accept a truncated mark as a shorter
    valid one.  The mark must BE a JSON integer (ADVICE r11): ``int()``
    coercion would promote a hand-edited or corrupted-yet-parseable tmp
    whose mark is a float (``int(3.9)`` truncates) or a bool — weaker
    than the integer mark the writer emits and this gate claims."""
    try:
        mark = json.loads(raw)["max_doc_id"]
    except (ValueError, KeyError, TypeError):
        return False
    return isinstance(mark, int) and not isinstance(mark, bool)


def _write_meta(
    spark: SparkSession, index_dir: str, max_doc_id: int, epoch=None
) -> None:
    """Publish the high-water mark — the COMMIT of an update (see
    ``update_lsh_index``): written COMPLETE to a temp name first, then
    swapped in (delete + rename).  A crash inside the tiny swap window
    leaves no live meta but a COMPLETE ``meta.json.tmp`` — the tmp's
    mark was only written after its update's data files had already
    appended, so :func:`_repair_meta` (run by ``_read_meta`` on a
    missing meta, i.e. by every entry point) renames it in and the
    commit completes; a crash BEFORE the delete leaves the old meta
    authoritative and the superseded tmp is overwritten by the next
    update (ADVICE r9: without the repair, the swap window bricked the
    index — every entry point starts at ``_read_meta``, so the module's
    own repair tooling was unreachable).  ``epoch`` is the
    admission-transaction id :func:`admit_batch` uses for replay
    detection — recorded with the SAME write as the mark, so a commit
    and its epoch are indivisible."""
    fs, p = _meta_path(spark, index_dir)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(p.toString() + ".tmp")
    payload = json.dumps({"max_doc_id": max_doc_id, "epoch": epoch})
    out = fs.create(tmp, True)
    out.write(bytearray(payload, "utf-8"))
    out.close()
    if fs.exists(p):
        fs.delete(p, False)  # best-effort: a false delete fails the rename below
    if not fs.rename(tmp, p):
        # ADVICE r10: a rename that fails WITHOUT throwing (Hadoop's
        # boolean contract) would otherwise lose the commit silently —
        # the appended keeper rows sit above a stale mark, the caller
        # reports success, and the next vacuum deletes admitted docs.
        # One benign cause: a concurrent reader's _repair_meta won the
        # rename of this very tmp (it saw our delete->rename window) —
        # then the commit already landed with this exact payload.
        if fs.exists(p) and _slurp(spark, fs, p) == payload:
            return
        # First-write race (ADVICE r11): on a FIRST-ever write a repairer
        # can promote our complete tmp between the exists(p) check above
        # returning True and our delete — the delete then removes the
        # just-promoted meta and the rename finds no tmp, leaving NO meta
        # although the payload had landed.  The payload is still in
        # memory: re-stage and retry ONCE so the raced commit self-heals
        # instead of raising a 'commit failed' that points away from the
        # real cause with no meta left on disk.
        out = fs.create(tmp, True)
        out.write(bytearray(payload, "utf-8"))
        out.close()
        if not fs.rename(tmp, p):
            # a live meta with a DIFFERENT payload here is a genuine
            # anomaly (the module is single-writer); surface it
            if not (fs.exists(p) and _slurp(spark, fs, p) == payload):
                raise RuntimeError(
                    f"meta commit failed: could not rename {tmp} to {p}"
                )


def _repair_meta(spark: SparkSession, index_dir: str) -> bool:
    """Complete a :func:`_write_meta` swap that crashed between delete
    and rename: live meta MISSING + ``meta.json.tmp`` present -> the tmp
    is complete by the write protocol (created, fully written and closed
    BEFORE the live delete) and its mark's data files are already on
    disk, so renaming it in finishes the commit.  Returns whether a
    repair happened; with the live meta present this is a no-op (a
    stale tmp next to a live meta is a superseded leftover of a crash
    BEFORE the delete — harmless, overwritten by the next update).

    The completeness argument has one hole (ADVICE r10): the FIRST-ever
    meta write of a new index runs with no live meta at all, so a crash
    mid-create leaves a TORN tmp in exactly the live-missing state this
    repair fires on.  The tmp is therefore validated (:func:`_valid_meta`)
    before promotion; an invalid tmp is IGNORED — not deleted — so
    callers see the intended missing-meta failure mode, not a parse
    error on a live meta.  Ignoring (code-review r11) rather than
    deleting matters: the same live-missing + tmp-present state is what
    a reader sees while the first-ever ``_write_meta`` is STILL WRITING
    the tmp, and deleting it out from under the writer would turn a
    healthy initial build into a spurious commit failure.  A genuinely
    torn leftover is harmless in place: it is never promoted, and the
    next ``_write_meta`` overwrites it (``fs.create(tmp, True)``)."""
    fs, p = _meta_path(spark, index_dir)
    if fs.exists(p):
        return False
    tmp = spark._jvm.org.apache.hadoop.fs.Path(p.toString() + ".tmp")
    if not fs.exists(tmp):
        return False
    try:
        complete = _valid_meta(_slurp(spark, fs, tmp))
    except Exception:
        # the tmp vanished under a concurrent repairer: benign iff the
        # winner restored the live meta
        return fs.exists(p)
    if not complete:
        return fs.exists(p)  # a concurrent writer may have landed a commit
    if not fs.rename(tmp, p):
        # readers are NOT single-writer-bound: two concurrent probes can
        # both see the crashed swap and race the rename — the loser's
        # failure is benign iff the winner restored the meta
        if fs.exists(p):
            return True
        raise RuntimeError(f"could not restore {p} from its completed tmp")
    return True


def _read_meta(spark: SparkSession, index_dir: str) -> dict:
    """The index meta: ``max_doc_id`` (the committed high-water mark,
    always present) and ``epoch`` (last admission-transaction id, may be
    absent/None on indexes written before epochs existed).  A meta lost
    to a crashed swap is restored first (:func:`_repair_meta`) — every
    entry point passes through here, so the repair needs no separate
    call site; the exists-check it costs is one namenode op per read."""
    fs, p = _meta_path(spark, index_dir)
    if not fs.exists(p):
        _repair_meta(spark, index_dir)
    meta = json.loads(_slurp(spark, fs, p))
    meta["max_doc_id"] = int(meta["max_doc_id"])
    return meta


def _part_file_count(fs, path) -> int:
    """Number of ``part-*`` data files under a table dir (Hadoop FS) —
    the one counting convention, shared by :func:`compact_lsh_index`'s
    threshold check and d04's layout fences (queries/lsh_lifecycle)."""
    return sum(
        1
        for f in fs.listStatus(path)
        if f.getPath().getName().startswith("part-")
    )


def _committed(spark: SparkSession, index_dir: str, name: str, hw: int) -> DataFrame:
    """The COMMITTED snapshot of an index table: rows at or below the
    meta high-water mark.  ``update_lsh_index`` appends data files FIRST
    and publishes the new high-water LAST, so rows above it are exactly
    the leftovers of a crashed update — this filter makes every read
    crash-consistent with zero rewrite, and since an append's files
    contain ONLY ids above the pre-crash mark, parquet min/max stats
    skip those files entirely (the filter costs no IO on a healthy
    index either)."""
    return spark.read.parquet(f"{index_dir}/{name}.parquet").filter(
        F.col("doc_id") <= hw
    )


def build_lsh_index(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Sketch ``docs`` (doc_id, text, ...) and persist the two index
    tables an arrival probe reads — ``bands.parquet`` (capped bucket
    membership) and ``hsets.parquet`` (hashed shingle sets) — plus the
    ``meta.json`` high-water mark ``update_lsh_index`` checks its
    append-only id precondition against."""
    bands, hsets = sketch_docs(docs)
    gate_buckets(bands).write.mode("overwrite").parquet(f"{index_dir}/bands.parquet")
    hsets.write.mode("overwrite").parquet(f"{index_dir}/hsets.parquet")
    # high-water mark from the ALREADY-MATERIALIZED hset frame — one row
    # per input doc (hashed_sets neither filters nor explodes), so
    # max(doc_id) is identical to an agg over ``docs``, without a second
    # scan of the corpus (OPTIMIZATION r16, guide §1.2 step 1: don't
    # rescan what a checkpoint already pinned)
    mx = hsets.agg(F.max("doc_id")).first()[0]
    _write_meta(spark, index_dir, -(2**62) if mx is None else int(mx))


def _probe_frames(
    spark: SparkSession,
    index_dir: str,
    spine: DataFrame,
    inc_gated: DataFrame,
    inc_hsets: DataFrame,
    as_of_id: int | None = None,
) -> DataFrame:
    """The probe on PRE-SKETCHED batch frames — shared by
    :func:`probe_lsh_index` (which sketches then probes) and
    :func:`admit_batch` (which sketches ONCE and feeds probe and fold
    from the same frames).  The index is read fresh on every call: the
    committed snapshot (``_read_meta`` + ``_committed``), so a sub-batch
    cycle sees every fold committed before it.

    ``as_of_id`` reconstructs a PAST index view for replay
    (:func:`admit_batch`'s epoch protocol): only ids strictly below it
    count as the index.  The append-only discipline makes this exact —
    everything folded after a batch began has ids above the batch's
    minimum, so ``as_of_id = min(batch ids)`` is precisely the index
    the batch's original probe saw."""
    ids = F.broadcast(spine)
    hw = _read_meta(spark, index_dir)["max_doc_id"]
    idx_bands = _committed(spark, index_dir, "bands", hw)
    idx_hsets = _committed(spark, index_dir, "hsets", hw)
    if as_of_id is not None:
        idx_bands = idx_bands.filter(F.col("doc_id") < as_of_id)
        idx_hsets = idx_hsets.filter(F.col("doc_id") < as_of_id)
    idx_bands = idx_bands.join(ids, "doc_id", "left_anti")
    idx_hsets = idx_hsets.join(ids, "doc_id", "left_anti")
    return shard_verdicts(
        idx_bands,
        inc_gated,
        idx_hsets.unionByName(inc_hsets),
        inc_hsets,
        spine,
    )


def probe_lsh_index(
    spark: SparkSession, index_dir: str, batch: DataFrame
) -> DataFrame:
    """Per-doc near-dup verdicts for an arriving ``batch`` (doc_id,
    text, ...) against a :func:`build_lsh_index` layout — the batch is
    sketched fresh and broadcast; the index tables stream map-side
    (no shuffle of the index, no SortMergeJoin).

    Broadcast-bound (ADVICE r8): the batch band frame, batch hset
    slice, candidate frame and verdict aggregate are all broadcast, so
    the BATCH and its candidate fan-out must fit the broadcast limit —
    split over-sized arrivals into sub-batches before probing
    (:func:`admit_batch` does).

    A doc_id present in BOTH the index and the batch (a re-arrival) is
    judged against the index minus itself: the defensive anti-joins
    drop its index-side band rows and hset before the union, so the
    verify join cannot fan out across generations (ADVICE r8).

    Reads are the COMMITTED snapshot (ids at or below the meta
    high-water mark): leftovers of a crashed ``update_lsh_index`` are
    invisible until :func:`vacuum_lsh_index` repairs them."""
    inc_bands, inc_hsets = sketch_docs(batch)
    return _probe_frames(
        spark, index_dir, batch.select("doc_id"), gate_buckets(inc_bands), inc_hsets
    )


def update_lsh_index(
    spark: SparkSession, index_dir: str, kept_batch: DataFrame
) -> int:
    """Fold ``kept_batch`` — the docs a probe ADMITTED (decision
    ``keep``) — into the persisted index without a rebuild.  Returns
    the number of docs folded in.

    Pure append, gate recompute local to the touched buckets:

    * hsets: the batch's hashed shingle sets append as-is;
    * bands: a new row enters a (band, bk) bucket only while the bucket
      stays within ``BUCKET_CAP`` counting its EXISTING occupancy —
      occupancy is read via a broadcast-semi-join of the index band
      table against the batch's touched bucket keys (the index streams
      map-side; the aggregate shuffles only the surviving
      touched-bucket rows, bounded by batch size x bands x cap, never
      by index size).

    Requires append-only doc_ids (every new id > the index's recorded
    ``max_doc_id`` — checked against ``meta.json``, ValueError
    otherwise).  Under that precondition the appended membership is
    EXACTLY what a from-scratch rebuild over the union would cap: the
    gate keeps the BUCKET_CAP lowest ids per bucket and monotone ids
    can never evict existing members (rebuild parity pytest-locked).
    Without it, admitting a low id would require evicting an already-
    persisted row — a rewrite, which is the rebuild this API exists to
    avoid.

    Crash protocol: data files append FIRST, the meta high-water mark
    publishes LAST — the mark IS the commit.  A crash anywhere in
    between leaves rows above the mark that every read filters out
    (``_committed``); run :func:`vacuum_lsh_index` before RETRYING the
    crashed batch, or the retry's append would double the uncommitted
    rows and the commit would expose both copies."""
    new_bands, new_hsets = sketch_docs(kept_batch)
    return _fold_frames(
        spark, index_dir, kept_batch.select("doc_id"), new_bands, new_hsets
    )


def _fold_frames(
    spark: SparkSession,
    index_dir: str,
    kept_ids: DataFrame,
    new_bands: DataFrame,
    new_hsets: DataFrame,
    epoch=None,
) -> int:
    """The fold on PRE-SKETCHED keeper frames (``new_bands`` UNGATED) —
    shared by :func:`update_lsh_index` (which sketches then folds) and
    :func:`admit_batch` (one sketch for probe and fold; passes its
    ``epoch`` so the commit records the admission transaction).  The
    occupancy read is the committed snapshot, read fresh like the
    probe's."""
    mn_mx = kept_ids.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"), F.count("*").alias("n")
    ).first()
    if mn_mx["n"] == 0:
        return 0
    high_water = _read_meta(spark, index_dir)["max_doc_id"]
    if mn_mx["mn"] <= high_water:
        raise ValueError(
            f"update_lsh_index requires append-only doc_ids: batch min "
            f"{mn_mx['mn']} <= indexed max {high_water} (re-arrival or "
            f"out-of-order fold — rebuild or re-id the batch)"
        )
    # pinned once: touched, occ and admitted all derive from it.  No
    # broadcast hint here — the joins below hint their own small sides
    # (touched, occ); a hint on THIS frame would sit under an aggregate
    # and the outer side of a left join, where it is unusable and only
    # logs "join hint ... not part of a join relation" per fold.  LAZY
    # (OPTIMIZATION r16): blocks materialize inside the first consuming
    # job (the touched-bucket broadcast build) instead of a dedicated
    # eager-checkpoint driver job per fold.
    new_bands = new_bands.localCheckpoint(eager=False)

    # occupancy of ONLY the touched buckets: broadcast semi-join keeps the
    # index scan shuffle-free; the count aggregates <= cap rows per
    # touched bucket.  Committed snapshot: a crashed update's leftovers
    # must not count toward the cap.
    touched = new_bands.select("band", "bk").distinct()
    occ = (
        _committed(spark, index_dir, "bands", high_water)
        .join(F.broadcast(touched), ["band", "bk"], "left_semi")
        .groupBy("band", "bk")
        .agg(F.count("*").alias("occ"))
    )
    w = Window.partitionBy("band", "bk").orderBy("doc_id")
    admitted = (
        new_bands.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(occ), ["band", "bk"], "left")
        .filter(F.col("rn") + F.coalesce("occ", F.lit(0)) <= BUCKET_CAP)
        .select("doc_id", "band", "bk")
    )
    try:
        admitted.write.mode("append").parquet(f"{index_dir}/bands.parquet")
        new_hsets.write.mode("append").parquet(f"{index_dir}/hsets.parquet")
        _write_meta(spark, index_dir, int(mn_mx["mx"]), epoch)  # <- the commit
    except BaseException:
        # the fold may have appended rows it never committed — the next
        # epoch-bearing admit_batch must re-vacuum, not trust the cache
        _KNOWN_CLEAN.discard(index_dir)
        raise
    return int(mn_mx["n"])


def _split_batch(batch: DataFrame, k: int, lo: int, hi: int) -> DataFrame:
    """Tag ``batch`` rows with a sub-batch id ``_sub`` in [0, k): contiguous
    doc_id ranges, ordered (every id in sub i sorts below every id in sub
    i+1) — the property :func:`admit_batch`'s in-order folds need so the
    append-only guard holds across sub-batches.

    The cuts are EQUAL-WIDTH id intervals over [lo, hi] (the batch's own
    min/max), i.e. a pure projection ``(doc_id - lo) div width`` — which
    buys the two properties this path must have at once:

    * distributed (VERDICT r9 #1): no shuffle, no sort, no Window at all
      — every task tags its own rows.  The rejected first form,
      ``ntile(k) OVER (ORDER BY doc_id)``, funneled the whole
      over-broadcast batch through ONE task's sort; the rejected second
      form, ``repartitionByRange(k, doc_id)``, distributed the sort but
      computes its cuts from a reservoir SAMPLE seeded by the RDD id —
      nondeterministic across process restarts, which breaks the
      exactly-once replay below;
    * deterministic (the epoch replay protocol REQUIRES it): a restarted
      stream redelivers the same batch content, so (lo, hi, k) — and
      therefore every sub-batch boundary — reproduce exactly.  With
      sampled cuts a replay sub-batch could straddle the crashed run's
      commit point, containing both committed keepers (at or below the
      mark) and new ones: the committed-fold skip would not fire and the
      fold would trip the append-only guard — a permanently wedged
      stream on every restart.

    The price of width-equal (rather than count-equal) cuts: id SKEW can
    over-fill a range past ``max_docs``.  :func:`admit_batch` handles
    that by forwarding ``max_docs`` into the recursion — an over-filled
    sub-batch re-splits within its (strictly narrower) id interval, so
    the envelope is enforced at every leaf, deterministically, and the
    recursion terminates (a single-id interval cannot over-fill: ids are
    unique).  Plan shape (no Exchange, no Window) is pytest-locked."""
    if hi - lo >= 2**63:
        # (doc_id - lo) would wrap LONG arithmetic (silently, ANSI off)
        # and the wrapped rows' negative tags would be dropped by the
        # per-sub filters — refuse instead of losing admissions.  Only
        # reachable if a batch spans nearly the full int64 id space.
        raise ValueError(
            f"admit_batch cannot split a batch whose doc_id span "
            f"[{lo}, {hi}] exceeds the LONG range — re-id the batch"
        )
    width = (hi - lo) // k + 1  # >= 1, and k*width > hi-lo => tags in [0, k)
    return batch.withColumn("_sub", F.expr(f"(doc_id - {lo}) div {width}"))


def admit_batch(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    max_docs: int | None = None,
    epoch=None,
    _replay: bool | None = None,
    _stats: tuple | None = None,
) -> DataFrame:
    """Probe-and-fold an arriving ``batch`` (doc_id, text, ...) in one
    call, returning the per-doc verdict frame — result-identical to
    :func:`probe_lsh_index` then :func:`update_lsh_index` on the
    keepers (pytest-pinned), but the batch is sketched ONCE and the
    probe and fold share the materialized frames (the sketch is the
    arrival's dominant linear term; the two-call path pays it twice).

    Fails fast if any batch id is at or below the index high-water
    mark (checked BEFORE any sub-batch folds, so a multi-sub-batch
    admission can never stop half-folded on the id guard).

    ``max_docs`` closes the module's scale caveat with code instead of a
    docstring instruction: the probe broadcasts the BATCH and its
    candidate fan-out, so an arrival too big for the broadcast limit
    must be split.  When the batch exceeds ``max_docs`` it is cut into
    ``ceil(n / max_docs)`` id-ordered sub-batches via a DISTRIBUTED,
    DETERMINISTIC range split (:func:`_split_batch`: equal-width id
    intervals over the batch's own [min, max] — a pure projection, no
    shuffle and no single-partition stage; this path executes precisely
    when the batch EXCEEDS the broadcast envelope, so it must never
    funnel the whole batch through one task, and the cuts must
    reproduce bit-identically on an epoch replay in a fresh process),
    each probed and folded IN ID ORDER so the fold's append-only guard
    holds across sub-batches.  Width-equal cuts track count-equal ones
    for the monotone id sequences streams produce; under id SKEW an
    over-filled interval recursively re-splits (``max_docs`` forwards),
    so the envelope is enforced at every leaf.

    Admission contract vs one-shot (``max_docs=None``), pytest-locked:

    * the admitted set always satisfies the near-dup-free invariant —
      no admitted doc is a verified near-dup of the prior index or of
      any doc admitted before it;
    * on batches where no near-dup chain crosses a sub-batch boundary
      through a DROPPED doc, admission is IDENTICAL to one-shot (the
      real-corpus case);
    * on chain-crossing batches, sub-batching is never LESS admissive:
      one-shot's shard rule drops doc B for a lower-id near-dup A even
      when A itself was dropped (pairwise, n49 semantics), while B in a
      later sub-batch is judged only against the index + folded
      keepers — every comparison one-shot would also make — so B can
      only flip drop -> keep, never keep -> drop.  A cross-sub-batch
      near-dup of a KEPT doc reports ``drop_index_dup`` where one-shot
      says ``drop_shard_dup`` (same admission, the survivor is already
      folded).

    ``epoch`` makes admission EXACTLY-ONCE under redelivery — the
    Spark ``foreachBatch`` idempotent-sink protocol (a restarted
    streaming query replays its last uncommitted micro-batch with the
    SAME epoch id and content; that redelivery contract is the
    precondition).  Every fold commit records the epoch atomically
    with the high-water mark, so on entry:

    * epoch given at all -> ``vacuum_lsh_index`` first, making a fold
      that crashed MID-APPEND (orphan rows, no commit) retryable
      without double-appending.  Paid ONCE per driver process per
      index, not per micro-batch: orphans only appear when a fold
      dies, so after one repair the dir is cached clean
      (``_KNOWN_CLEAN``) until a fold fails in-process (evicts the
      entry) or the process itself dies (loses the cache — the
      restarted driver's first batch re-vacuums).  Without the cache
      every arrival would pay the repair's file listing + stats-pruned
      footer scan over the WHOLE index — a real per-arrival IO floor
      at the module's 100 TB posture.  Single-writer assumption as
      everywhere in this module: another process folding into the same
      dir concurrently is out of contract;
    * stored epoch == this epoch -> REPLAY: some sub-batches may have
      committed before the crash.  Each sub-batch's probe reconstructs
      the index view its ORIGINAL run saw — ``as_of_id = min(sub-batch
      ids)`` is exact, because append-only ids mean everything folded
      later sits strictly above it — so verdicts reproduce
      bit-identically (pytest-locked); a sub-batch whose keepers are
      all at or below the committed mark already folded and is
      skipped, the rest fold normally.  The stale-id fail-fast is
      waived (a replay's ids are legitimately at or below the mark).

    Without ``epoch`` the stale-id guard treats any redelivery as the
    error it then is (out-of-order arrival or re-id bug).

    Operational note — upgrading the SPLITTER implementation: replay
    exactness holds because the cuts are deterministic WITHIN one
    implementation.  A stream that crashed mid-epoch under an older
    splitter (e.g. the sampled repartitionByRange form this module once
    shipped) and restarts on a build with different cut semantics can
    re-cut the replayed batch across the crashed run's commit point and
    wedge on the append-only guard.  Quiesce streams (let the in-flight
    micro-batch commit) before deploying a splitter change, or complete
    a dirty checkpoint's replay on the old build first."""
    if _replay is None and epoch is not None:
        _replay = _read_meta(spark, index_dir).get("epoch") == epoch
        if index_dir not in _KNOWN_CLEAN:
            vacuum_lsh_index(spark, index_dir)
            _KNOWN_CLEAN.add(index_dir)
    if _stats is None:
        row = batch.agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        ).first()
        stats = {"n": row["n"], "mn": row["mn"], "mx": row["mx"]}
    else:
        # precomputed by the parent split's ONE grouped aggregation
        # (OPTIMIZATION r16): identical values to the per-leaf agg this
        # replaces — count/min/max of exactly this sub-batch's rows
        stats = {"n": _stats[0], "mn": _stats[1], "mx": _stats[2]}
    n = stats["n"]
    if n > 0 and not _replay:
        hw = _read_meta(spark, index_dir)["max_doc_id"]
        if stats["mn"] <= hw:
            raise ValueError(
                f"admit_batch requires append-only doc_ids: batch min "
                f"{stats['mn']} <= indexed max {hw} (re-arrival or "
                f"out-of-order arrival — re-id the batch)"
            )
    # recursion backstop: a single-id interval cannot split further, so a
    # contract-violating batch with DUPLICATED ids (n > max_docs, one id)
    # degrades to a one-shot probe instead of recursing forever — for
    # n<=1 the preceding arm already forces k=1
    k = (
        1
        if max_docs is None or n <= max_docs or stats["mn"] == stats["mx"]
        else -(-n // max_docs)
    )
    if k == 1:
        # sketch ONCE: the probe and the fold read the same materialized
        # band/hset frames (the sketch is the arrival's dominant linear
        # term — update_lsh_index re-sketching the keepers from text
        # would double it).
        # OPTIMIZATION r16 (guide §1.2 driver fixed cost): no extra
        # eager .localCheckpoint() layer here — sketch_docs' band and
        # hset frames are already LAZILY checkpointed by band_frame /
        # hashed_sets, so their blocks materialize inside the first
        # consuming job (the verdicts materialization) and every later
        # consumer (the fold's joins) reads the same pinned blocks.  The
        # former eager re-checkpoints were two pure double-checkpoint
        # driver jobs per cycle.
        bands_u, hsets_b = sketch_docs(batch)
        verdicts = _probe_frames(
            spark,
            index_dir,
            batch.select("doc_id"),
            gate_buckets(bands_u),
            hsets_b,
            as_of_id=stats["mn"] if _replay else None,
        ).localCheckpoint(eager=False)
        keeps = verdicts.filter(F.col("decision") == "keep")
        if _replay:
            mx_keep = keeps.agg(F.max("doc_id")).first()[0]
            if (
                mx_keep is not None
                and mx_keep <= _read_meta(spark, index_dir)["max_doc_id"]
            ):
                return verdicts  # this (sub-)batch's fold already committed
        keep_ids = keeps.select("doc_id")
        # hint only the JOIN uses; the kept_ids argument feeds an
        # aggregate in _fold_frames, where a broadcast hint is unusable
        # and would log "join hint ... not part of a join relation"
        keep_b = F.broadcast(keep_ids)
        _fold_frames(
            spark,
            index_dir,
            keep_ids,
            bands_u.join(keep_b, "doc_id"),
            hsets_b.join(keep_b, "doc_id"),
            epoch=epoch,
        )
        return verdicts
    # localCheckpoint so the k per-sub filters materialize the batch once
    # (determinism does NOT depend on it: the cuts are a pure function of
    # the batch's lo/hi/k, so a replay in a fresh process reproduces them).
    # LAZY (OPTIMIZATION r16): the grouped stats aggregation right below
    # is the first consumer and materializes the blocks inside its own job.
    tagged = _split_batch(batch, k, stats["mn"], stats["mx"]).localCheckpoint(
        eager=False
    )
    # ONE grouped aggregation replaces k per-leaf stats jobs plus k
    # isEmpty probes (OPTIMIZATION r16, guide §1.2 driver fixed cost):
    # the leaves receive exactly the count/min/max the per-sub agg would
    # have computed, and absent keys are the empty ranges isEmpty skipped
    sub_stats = {
        int(r["_sub"]): (r["n"], r["mn"], r["mx"])
        for r in tagged.groupBy("_sub")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        )
        .collect()
    }
    parts = []
    for i in range(k):
        if i not in sub_stats:
            continue  # width-equal cuts leave sparse ranges empty
        sub = tagged.filter(F.col("_sub") == i).drop("_sub")
        parts.append(
            # max_docs forwards: id skew can over-fill a width-equal
            # range, and an over-filled sub-batch must re-split (within
            # its strictly narrower interval), not broadcast over-envelope
            admit_batch(
                spark, index_dir, sub, max_docs=max_docs,
                epoch=epoch, _replay=_replay, _stats=sub_stats[i],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_lsh_index(
    spark: SparkSession, index_dir: str, files_per_table: int = 8
) -> dict[str, int]:
    """Fold the per-update append generations back into ``files_per_table``
    id-sorted files per index table — the ``compact_partitions``
    discipline applied to the LSH index.  Daily folds accumulate one-plus
    small files each; after years of arrivals every probe pays listing +
    footer overhead per generation.  Compaction is the deliberate,
    amortized rewrite (the opposite trade from ``vacuum_lsh_index``'s
    surgical file deletes): read the COMMITTED snapshot, rewrite it
    range-partitioned and sorted on doc_id, swap in.  Returns
    ``{table: files_before}``.

    Invariants preserved:

    * only committed rows are rewritten, so compacted files hold only
      ids at or below the high-water mark — a LATER crashed update's
      orphans still sit in their own files above the mark, keeping the
      file-exclusivity property ``vacuum_lsh_index`` relies on (any
      orphans present NOW are dropped, which is vacuum's repair);
    * the id-sorted layout keeps per-file min/max stats tight, so the
      committed-snapshot filter and any future candidate-id pushdown
      stay file-prunable;
    * ``meta.json`` is untouched — compaction changes layout, never
      content (probe results bit-identical, pytest-locked).

    Like ``compact_partitions``, the swap (delete-old, rename-new) wants
    a read-quiesced window: a reader that listed files before the swap
    can hit vanished files.  Crash protocol (the d03 repair discipline):
    the rewrite lands complete in a dot-prefixed temp dir (Spark's
    ``_SUCCESS`` marker) BEFORE the live dir is deleted, so a crash
    inside the swap leaves a finished replacement next to the missing
    table — :func:`_repair_compaction` (run at the head of every
    compact AND of :func:`vacuum_lsh_index`) renames it in; a crash
    before the delete leaves the live table authoritative and the temp
    is discarded.  In between, probes fail loudly on the missing path —
    never a torn read (content is identical either way: compaction is
    layout-only)."""
    import uuid

    _repair_compaction(spark, index_dir)
    hw = _read_meta(spark, index_dir)["max_doc_id"]
    jvm = spark._jvm
    fs, _ = _meta_path(spark, index_dir)
    out = {}
    for name in ("bands", "hsets"):
        live = f"{index_dir}/{name}.parquet"
        live_p = jvm.org.apache.hadoop.fs.Path(live)
        n_before = _part_file_count(fs, live_p)
        out[name] = n_before
        if n_before <= files_per_table:
            continue
        tmp = f"{index_dir}/.{name}.compact-{uuid.uuid4().hex[:8]}"
        try:
            (
                spark.read.parquet(live)
                .filter(F.col("doc_id") <= hw)
                .repartitionByRange(files_per_table, "doc_id")
                .sortWithinPartitions("doc_id")
                .write.parquet(tmp)
            )
            # the boolean-return discipline (ADVICE r10, applied module-
            # wide): a false delete means the live dir still exists and
            # the rename below cannot land — the compaction would report
            # success having changed nothing; a false rename after a
            # successful delete would leave the table missing until the
            # NEXT entry point's _repair_compaction, so repair inline.
            if not fs.delete(live_p, True):
                # Hadoop delete ALSO returns false when the path does not
                # exist (ADVICE r11) — a live table that vanished after
                # _repair_compaction (out-of-band delete) must surface as
                # the missing-table diagnosis, not a misleading
                # 'could not delete'.
                if not fs.exists(live_p):
                    # no data is at risk: this rewrite's COMPLETE
                    # _SUCCESS-marked temp is already on disk, and the
                    # next entry point's _repair_compaction promotes it
                    # (live-missing + complete temp is exactly the
                    # crashed-swap state it repairs) — so the remediation
                    # is a re-run, never a rebuild (code-review r12)
                    raise RuntimeError(
                        f"compact_lsh_index: live table {live_p} vanished "
                        "at the swap (deleted out-of-band or by a "
                        "concurrent compactor); re-run compact_lsh_index — "
                        "it will resume from this rewrite's completed temp"
                    )
                raise RuntimeError(
                    f"compact_lsh_index: could not delete {live_p} for the swap"
                )
            if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), live_p):
                _repair_compaction(spark, index_dir)
                raise RuntimeError(
                    f"compact_lsh_index: could not swap {tmp} into {live_p}; "
                    "the completed temp was repaired back in"
                )
        except BaseException:
            # a crashed swap needs _repair_compaction before the next
            # probe — don't let admit_batch's clean-cache skip it
            _KNOWN_CLEAN.discard(index_dir)
            raise
    return out


def _repair_compaction(spark: SparkSession, index_dir: str) -> bool:
    """Complete or discard a crashed :func:`compact_lsh_index` swap;
    returns whether anything was repaired.  The swap's invariant makes
    this unambiguous: the rewrite is COMPLETE (``_SUCCESS``-marked temp
    dir) before the live dir is deleted, so

    * live table present -> it is authoritative; any ``.{name}.compact-*``
      temp is partial or superseded — discard it (compaction is
      layout-only, so finishing vs. discarding give identical content;
      discarding is the conservative, idempotent choice);
    * live table MISSING -> the crash happened between delete and
      rename, therefore a complete temp exists — rename it in.  A
      missing live with no complete temp is real corruption (someone
      deleted data out-of-band) and raises instead of guessing."""
    jvm = spark._jvm
    fs, _ = _meta_path(spark, index_dir)
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(index_dir)
    repaired = False
    for name in ("bands", "hsets"):
        live = HPath(f"{index_dir}/{name}.parquet")
        tmps = [
            f.getPath()
            for f in fs.listStatus(root)
            if f.getPath().getName().startswith(f".{name}.compact-")
        ]
        if fs.exists(live):
            for t in tmps:
                fs.delete(t, True)  # best-effort: superseded scratch only
        else:
            done = [t for t in tmps if fs.exists(HPath(t, "_SUCCESS"))]
            if not done:
                raise RuntimeError(
                    f"LSH index table {name}.parquet is missing and no "
                    f"completed compaction temp exists under {index_dir} — "
                    f"not a crashed swap; restore from a rebuild"
                )
            if not fs.rename(done[0], live):
                raise RuntimeError(
                    f"_repair_compaction: could not rename completed temp "
                    f"{done[0]} to {live} — index table still missing"
                )
            for t in done[1:]:
                fs.delete(t, True)  # best-effort: superseded scratch only
            repaired = True
    return repaired


def vacuum_lsh_index(spark: SparkSession, index_dir: str) -> int:
    """Repair a crashed :func:`update_lsh_index`: DELETE the uncommitted
    append files (rows above the meta high-water mark), so the crashed
    batch can be retried without double-appending.  Returns the number
    of uncommitted rows removed (0 = healthy index, nothing touched).
    Also completes a crashed :func:`compact_lsh_index` swap first
    (:func:`_repair_compaction`) — vacuum is the index's one repair
    entry point.

    Orphans are FILE-exclusive by construction: the append-only id
    guard means every committed file holds only ids at or below some
    past high-water mark, and a crashed append's files hold only ids
    ABOVE the current one — no file ever mixes the two.  So the repair
    is file-granular: scan ``doc_id > hw`` (parquet min/max stats prune
    the committed files, so only the orphan files are read), collect
    the offending file paths via ``input_file_name``, and delete
    exactly those — the committed table bytes are never rewritten,
    which at the module's posture is the difference between deleting a
    crashed batch's few files and rewriting a 100 TB table.

    Concurrent readers are already blind to these files' ROWS
    (``_committed`` filters above the mark); a reader that listed the
    directory before the delete can still hit a vanished-file error on
    the orphan itself — retry, or set
    ``spark.sql.files.ignoreMissingFiles`` during repair windows."""
    _repair_compaction(spark, index_dir)
    hw = _read_meta(spark, index_dir)["max_doc_id"]
    jvm = spark._jvm
    fs, _ = _meta_path(spark, index_dir)
    removed = 0
    for name in ("bands", "hsets"):
        orphan_files = (
            spark.read.parquet(f"{index_dir}/{name}.parquet")
            .filter(F.col("doc_id") > hw)
            .groupBy(F.input_file_name().alias("path"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in orphan_files:
            # input_file_name() yields a percent-ENCODED URI string; fed
            # straight to Path(String) the encoding is kept literal, so a
            # path with encodable characters (a space in a workspace dir)
            # would miss the real file — and a missed delete that still
            # counted its rows would tell the caller the index is clean,
            # the crashed batch would be retried, and the double-append
            # would commit duplicates (ADVICE r9).  Route through
            # java.net.URI (decodes) and fail LOUDLY on a false delete.
            p = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r["path"]))
            if not fs.delete(p, False):
                raise RuntimeError(
                    f"vacuum_lsh_index failed to delete orphan file {p} — "
                    "index NOT clean; do not retry the crashed batch"
                )
            removed += r["n"]
    return removed
