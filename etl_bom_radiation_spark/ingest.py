"""Ingest pipeline: file state machine + partitioned sink (SURVEY §2.A
S3/S4/S6-S8, §2.F T1/T8).

Batch mode (:func:`ingest_batch`) and streaming mode (:func:`ingest_stream`,
``Trigger.AvailableNow`` by default) of the reference's event-driven flow
(reference bom-create-bucket/bom_create_bucket.py:80-118 wiring;
bom/bom.py:35-84 per-file processing):

    in/  --decode-->  athena/year=/month=/day=/hour=/   (good points)
     \\--move-->  done/         (processed files,   bom.py:79-80 intended)
     \\--move-->  quarantine/   (malformed files — upgrades bom.py:82-84's
                                 swallow-and-log TODO to a real parking lot)

Scale design:

* the decode plan is narrow-only (no shuffle) — file-level parallelism,
  linear to 1000 executors;
* the partitioned write repartitions on the partition columns first so each
  (year,month,day,hour) directory is written by one task instead of every
  task appending a small file to every partition — at 100 TB this is the
  difference between |partitions| output files and |tasks|x|partitions|
  small files;
* quarantine detection is header/metadata-based (NULL ncols/Date after
  ANSI-safe try_cast) — no second decode pass;
* file moves are Hadoop FS renames (server-side copy+delete in the
  reference, bom.py:16-25); the list of files per batch is small (one
  driver-side loop over file names, never over rows).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .grid.decode import decode_grids, read_grid_files, with_filename_metadata
from .workspace import Workspace, register_batch_partitions

PARTITION_COLS = ["year", "month", "day", "hour"]


@dataclass
class IngestResult:
    files_ok: list[str] = field(default_factory=list)
    files_quarantined: list[str] = field(default_factory=list)
    #: path -> reason code ('bad_header' | 'bad_filename' | 'oversized' |
    #: 'empty') — the observability the reference's swallow-and-log lacked
    #: (bom.py:82-84)
    quarantine_reasons: dict[str, str] = field(default_factory=dict)
    #: path -> error for files whose archival/quarantine rename failed.
    #: Their data IS committed (the write precedes the moves); they stay in
    #: ``in/`` and would be re-decoded next batch — callers must alert on a
    #: non-empty value (or quarantine by hand) instead of re-running blindly.
    move_failures: dict[str, str] = field(default_factory=dict)
    rows_written: int = 0
    partitions: list[dict] = field(default_factory=list)


def _classify_files(meta: DataFrame) -> DataFrame:
    """Mark each file good/bad from header + filename metadata only (G1/S2
    columns; no full decode): bad = unparseable header or filename grammar.
    Emits a reason code per bad file."""
    from .grid.decode import _header_field

    lines = F.split(F.col("_content"), r"\r?\n")
    header_ok = (
        _header_field(lines, 1).try_cast("int").isNotNull()
        & _header_field(lines, 2).try_cast("int").isNotNull()
        & _header_field(lines, 3).try_cast("double").isNotNull()
        & _header_field(lines, 4).try_cast("double").isNotNull()
        & _header_field(lines, 5).try_cast("double").isNotNull()
        & _header_field(lines, 6).try_cast("int").isNotNull()
    )
    name_ok = F.col("Date").isNotNull() & F.col("RadiationType").isNotNull()
    return meta.select(
        "_path",
        (header_ok & name_ok).alias("_ok"),
        F.when(~header_ok, "bad_header")
        .when(~name_ok, "bad_filename")
        .alias("_reason"),
    )


def _move(spark: SparkSession, src_uri: str, dst_dir: str) -> None:
    """S8: file state transition via FS rename (reference copy+delete,
    bom.py:16-25).

    ``FileSystem.rename`` returns False instead of raising when the
    destination already exists (e.g. a re-delivered input file whose name
    is already in done/). Silently ignoring that left the file in in/ to
    be re-ingested next batch (ADVICE r2); instead the destination is
    replaced — S3 copy semantics, matching the reference — and a rename
    that still fails raises."""
    jvm = spark._jvm
    src = jvm.org.apache.hadoop.fs.Path(src_uri)
    fs = src.getFileSystem(spark._jsc.hadoopConfiguration())
    dst = jvm.org.apache.hadoop.fs.Path(f"{dst_dir}/{src.getName()}")
    if not fs.rename(src, dst):
        if fs.exists(src) and fs.exists(dst):
            fs.delete(dst, False)  # best-effort: the retried rename below is the check
            if fs.rename(src, dst):
                return
        raise OSError(f"rename failed: {src_uri} -> {dst.toString()}")


#: renames in flight per :func:`_move_all` call
_MOVE_WORKERS = 16


def _move_all(spark: SparkSession, paths: list[str], dst_dir: str) -> dict[str, str]:
    """Move a batch of files with a bounded driver-side thread pool (py4j
    gateway and Hadoop FileSystem are both thread-safe). One rename per
    file is inherent to the prefix state machine; the pool amortizes the
    per-call py4j round-trip. The list is one entry per FILE per batch —
    at a millions-of-small-files regime, shard the in/ prefix across
    multiple ingest jobs rather than growing this list.

    Failures are isolated per file: every path gets its rename attempt and
    the failed ones come back as ``{path: error}`` instead of an exception
    aborting the batch mid-move (ADVICE r3: raising here AFTER points were
    appended and partitions registered stranded the not-yet-moved files in
    ``in/`` to be re-decoded — and re-appended — next batch)."""
    if not paths:
        return {}
    from concurrent.futures import ThreadPoolExecutor

    def _try(p: str) -> tuple[str, str] | None:
        try:
            _move(spark, p, dst_dir)
            return None
        except Exception as e:  # per-file isolation: collect, don't abort
            return (p, f"{type(e).__name__}: {e}")

    with ThreadPoolExecutor(max_workers=min(_MOVE_WORKERS, len(paths))) as ex:
        return dict(r for r in ex.map(_try, paths) if r is not None)


def write_points(
    df: DataFrame,
    data_dir: str,
    mode: str = "append",
    files_per_partition: int = 1,
    cluster_spatial: bool = False,
) -> None:
    """S4: Hive-layout partitioned parquet sink (bom.py:28-32 layout,
    parquet instead of headed CSV — SURVEY §1.6). Repartition on the
    partition keys first: one writer task per output partition — the
    anti-small-file default (|partitions| files, not |tasks|x|partitions|).

    ``files_per_partition`` > 1 is the HOT-PARTITION lever: a skewed hour
    (one partition holding a large share of the batch) makes the one-task-
    per-partition shape a single-writer straggler, so fan the partition out
    across k writer tasks via a deterministic content salt (pmod of a
    coordinate hash — uniform, reproducible). Trade-off: up to k files per
    partition per batch; compact_partitions folds them back when the
    partition cools.

    ``cluster_spatial=True`` Z-orders rows WITHIN each writer task's
    partition (``sortWithinPartitions`` on the Morton key of (lon, lat) —
    ``scale.zorder_key``): the analyst workload on this table is bbox x
    time (SURVEY §3.4), hive partitioning prunes time, and the in-file
    Z-order lets the parquet reader prune row groups on BOTH coordinate
    stats for the bbox half (measured: bench ``cluster_scan_*``; footer
    envelopes asserted in tests/test_scale.py and test_ingest.py). The
    sort is in-task (no extra Exchange — the repartition above already
    placed the rows) and costs one in-memory sort per writer."""
    cols = [F.col(c) for c in PARTITION_COLS]
    repartitioned = df.repartition(*cols)
    if files_per_partition > 1:
        cols.append(
            F.pmod(
                F.xxhash64("Longitude", "Latitude"), F.lit(files_per_partition)
            ).alias("_salt")
        )
        # explicit partition count: AQE would otherwise coalesce the salted
        # shuffle back into one task and undo the fan-out
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        repartitioned = df.repartition(n, *cols)
    if cluster_spatial:
        from .scale import zorder_key

        # quantum 2^-9 deg (~200 m): binary-exact, finer than any product
        # cellsize; 18 bits/axis so the whole-globe domain (360/2^-9 =
        # 184320 cells < 2^18) never aliases
        zk = zorder_key(
            F.col("Longitude"), F.col("Latitude"), -180.0, -90.0, 0.001953125,
            bits=18,
        )
        # the partition columns MUST lead the sort: the partitioned V1
        # writer requires an ordering on them and inserts its own Sort if
        # unsatisfied — and Catalyst's EliminateSorts then removes this one
        # entirely, silently writing un-clustered files (code-review r6,
        # verified on a two-hour batch). Leading with the partition cols
        # makes this sort satisfy the writer's requirement, so the Morton
        # key survives as the intra-partition order. Caveat: the satisfies
        # check compares post-folding orderings, so it holds when the
        # partition columns are data-derived (the decode output always is);
        # a synthetic frame mixing LITERAL partition values with derived
        # ones folds the literals out of this sort, fails the writer's
        # prefix check, and loses the clustering — keep partition columns
        # non-foldable (tests/test_ingest.py pins the production shape).
        repartitioned = repartitioned.sortWithinPartitions(
            *PARTITION_COLS, zk
        )
    (
        repartitioned.write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .parquet(data_dir)
    )


def write_points_csv(df: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """S3: the reference's own sink shape — headed CSV (bom.py:111,153-156)
    with the reference's minute-precision Date rendering
    ('%Y-%m-%d %H:%M', bom.py:68,105-106), kept for byte-level export
    parity; parquet (write_points) is the primary format."""
    (
        df.repartition(*PARTITION_COLS)
        .write.mode(mode)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm")
        .partitionBy(*PARTITION_COLS)
        .csv(out_dir)
    )


#: wholetext holds one full file per row in executor memory — a grid far
#: beyond any real BOM product is malformed by definition and goes straight
#: to quarantine WITHOUT being read (size from the FS listing, no I/O).
DEFAULT_MAX_FILE_BYTES = 256 * 1024 * 1024


def _split_by_size(
    spark: SparkSession, in_dir: str, max_bytes: int
) -> tuple[list[str], set[str]]:
    """FS-listing size guard: (readable file paths, oversized paths).
    Oversized files are never handed to the wholetext reader — their size
    comes from the listing, zero I/O."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(in_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    readable: list[str] = []
    oversized: set[str] = set()
    if not fs.exists(path):
        return readable, oversized
    for st in fs.listStatus(path):
        if not st.isFile():
            continue
        p = st.getPath().toString()
        (oversized.add(p) if st.getLen() > max_bytes else readable.append(p))
    return sorted(readable), oversized


def ingest_batch(
    spark: SparkSession,
    ws: Workspace,
    fq_table: str | None = None,
    max_file_bytes: int = DEFAULT_MAX_FILE_BYTES,
    cluster_spatial: bool = False,
    stats_manifest_cols: list[str] | None = None,
) -> IngestResult:
    """One batch drain of ``in/``: decode, write good points partitioned,
    move good files to ``done/`` and bad files to ``quarantine/``, register
    partitions (T8). Mirrors process_file (bom.py:35-84) at batch scale.

    Driver-side state is one entry per FILE per batch (the classify
    collect and the move lists) — bounded by arrival rate, never by row
    count. For a millions-of-files backlog, shard the in/ prefix across
    ingest jobs; the decode/write data path itself is fully distributed."""
    res = IngestResult()
    readable, oversized = _split_by_size(spark, ws.in_dir, max_file_bytes)
    if not readable and not oversized:
        return res
    if readable:
        meta = with_filename_metadata(read_grid_files(spark, readable))
        flags = _classify_files(meta).collect()  # one row per FILE (small)
    else:
        meta, flags = None, []
    # Path reconciliation (weird-grid net r14), by basename — the in/
    # listing is flat so basenames are unique within a batch:
    # * the wholetext reader emits NO row for a zero-length file, so an
    #   empty file would never be classified — and would sit in in/
    #   forever, re-listed by every batch: any listed readable file that
    #   produced no row is malformed by absence;
    # * input_file_name() returns URL-ENCODED URIs ('"' -> %22) that
    #   Hadoop Path does NOT decode (measured: rename of the %22 form
    #   raises FileNotFoundException), so a URI-special char in a
    #   filename left the file in in/ to re-ingest — DUPLICATE rows —
    #   every later batch. All FS operations and reported paths use the
    #   listing's REAL paths; only the decode-side isin filter keeps the
    #   reader's encoded spelling.
    from urllib.parse import unquote

    by_name = {os.path.basename(p): p for p in readable}

    def _canon(uri: str) -> str:
        return by_name.get(os.path.basename(unquote(uri)), uri)

    seen = {os.path.basename(unquote(r["_path"])) for r in flags}
    empty_files = [p for p in readable if os.path.basename(p) not in seen]
    ok_raw = {r["_path"] for r in flags if r["_ok"]}  # reader spelling
    ok_files = {_canon(p) for p in ok_raw}
    bad_files = (
        {_canon(r["_path"]) for r in flags if not r["_ok"]}
        | oversized
        | set(empty_files)
    )
    res.files_ok = sorted(ok_files)
    res.files_quarantined = sorted(bad_files)
    res.quarantine_reasons = {
        **{_canon(r["_path"]): r["_reason"] for r in flags if not r["_ok"]},
        **{p: "oversized" for p in oversized},
        **{p: "empty" for p in empty_files},
    }

    if ok_files:
        from pyspark.sql import Observation

        # the reader's own (encoded) spelling, NOT the canonical paths —
        # _path inside the frame is input_file_name()'s form
        good = meta.filter(F.col("_path").isin(*ok_raw))
        points = decode_grids(good)
        # Observation: row count + distinct partition tuples (bounded by
        # |files| — one hour partition per file) collected DURING the write
        # pass, so the batch is decoded exactly once
        obs = Observation("ingest_batch")
        points = points.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set(F.struct(*PARTITION_COLS)).alias("parts"),
        )
        write_points(points, ws.data_dir, cluster_spatial=cluster_spatial)
        metrics = obs.get
        res.rows_written = metrics["rows"]
        res.partitions = sorted(
            (p.asDict() for p in metrics["parts"]),
            key=lambda d: tuple(d[c] for c in PARTITION_COLS),
        )
        if fq_table is not None:
            register_batch_partitions(spark, fq_table, ws, res.partitions)
        if stats_manifest_cols:
            # maintained file-skipping stats (the MSCK-analog for file
            # envelopes): refresh is incremental — only the files this
            # batch appended are read back. Ordered AFTER the data write
            # and partition registration; a crash in between just leaves
            # the manifest one batch stale, which the next refresh heals
            # and pruned_read surfaces loudly rather than mis-serving.
            from .manifest import refresh_manifest

            refresh_manifest(spark, ws.data_dir, stats_manifest_cols)

    res.move_failures = {
        **_move_all(spark, sorted(ok_files), ws.done_dir),
        **_move_all(spark, sorted(bad_files), ws.quarantine_dir),
    }
    return res


#: name of the old-generation manifest inside a compaction temp dir;
#: underscore-prefixed so Spark ignores it even if the dir is ever scanned
_COMPACT_MANIFEST = "_OLDFILES"

#: partition fold jobs :func:`compact_partitions` runs at once
_COMPACT_CONCURRENCY = 8


def _publish_manifest(fs, jvm, dir_uri: str, name: str, lines: list[str]) -> None:
    """Write the committed-marker manifest ``dir_uri/name`` so that its
    EXISTENCE means COMPLETE (code-review r11): the lines are written
    under a dot-temp name, then renamed in.  A crash before the rename
    leaves no manifest — the marker-less state both protocols already
    discard and redo — never a torn one that replays as committed."""
    final = jvm.org.apache.hadoop.fs.Path(f"{dir_uri}/{name}")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{dir_uri}/.{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray("\n".join(lines), "utf-8"))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish manifest {final}")


def _compact_tmp(jvm, part_dir):
    """Hidden sibling temp dir for a partition compaction (dot prefix keeps
    it out of hive partition discovery)."""
    return jvm.org.apache.hadoop.fs.Path(
        part_dir.getParent().toString() + "/." + part_dir.getName() + ".compacting"
    )


def _finish_compaction(fs, jvm, part_dir, tmp) -> bool:
    """Run the swap of a compaction temp dir — the first run and the
    resume of a crashed one (code-review r3) are this same idempotent
    step: a temp dir WITH a manifest means the folded output was fully
    written — move any not-yet-renamed new files in, then delete the
    manifest's old generation; a temp dir WITHOUT a manifest means the
    folded write itself died — discard it and let compaction redo the
    partition. Returns True if a committed swap was completed."""
    manifest = jvm.org.apache.hadoop.fs.Path(f"{tmp.toString()}/{_COMPACT_MANIFEST}")
    if not fs.exists(manifest):
        # a manifest-less temp is scratch; a survivor of a failed delete
        # is retried by the next compaction of this partition
        fs.delete(tmp, True)  # best-effort: scratch reclamation only
        return False
    stream = fs.open(manifest)
    try:
        names = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8").splitlines()
    finally:
        stream.close()
    part_uri = part_dir.toString()
    # rename the remaining folded files in FIRST, delete the old
    # generation after, so neither the swap nor its resume ever exposes
    # an empty or undercounted partition to a concurrent reader (the
    # transient state is both generations visible, i.e. the double-count
    # a crashed run already left; code-review r11 — the old delete-first
    # replay opened a reader-visible undercount window).  Booleans
    # checked (ADVICE r10 discipline): a silently-failed rename would
    # strand a folded file for the recursive temp delete below to destroy
    # (data loss); a silently-failed old delete leaves double-counted
    # rows.  Raising keeps the manifest-marked temp, so the next run
    # resumes again.
    for s in fs.listStatus(tmp):
        n = s.getPath().getName()
        if s.isFile() and not n.startswith(("_", ".")):
            dst = jvm.org.apache.hadoop.fs.Path(f"{part_uri}/{n}")
            if not fs.rename(s.getPath(), dst):
                raise OSError(
                    f"compaction swap: could not move folded file "
                    f"{s.getPath()} into {part_uri}"
                )
    for name in names:
        if not name:
            continue
        old = jvm.org.apache.hadoop.fs.Path(f"{part_uri}/{name}")
        if fs.exists(old) and not fs.delete(old, False):
            raise OSError(f"compaction swap: could not delete old file {old}")
    fs.delete(tmp, True)  # best-effort: content moved out; leftover is scratch
    return True


def _compact_one(
    spark: SparkSession,
    fs,
    jvm,
    part_dir,
    max_files_per_partition: int,
    min_files_to_compact: int,
) -> bool:
    """Fold ONE hive partition's small files (see :func:`compact_partitions`
    for the swap/recovery protocol). Returns True if the partition was
    compacted (or a crashed swap was recovered)."""
    tmp = _compact_tmp(jvm, part_dir)
    if fs.exists(tmp) and _finish_compaction(fs, jvm, part_dir, tmp):
        return True  # recovered swap IS the compacted generation
    files = [
        s.getPath()
        for s in fs.listStatus(part_dir)
        if s.isFile() and not s.getPath().getName().startswith(("_", "."))
    ]
    if len(files) < min_files_to_compact:
        return False
    (
        spark.read.parquet(part_dir.toString())
        .coalesce(max_files_per_partition)
        .write.mode("overwrite")
        .parquet(tmp.toString())
    )
    # manifest of the old generation goes into the temp dir AFTER the
    # folded write and BEFORE any rename: its presence marks the swap as
    # committed, so a torn manifest replayed as committed would move the
    # folded generation in while deleting only the listed (possibly
    # zero) old files — permanent double-counted rows.  The swap itself
    # is the crash-recovery replay: new part-file names are UUID-unique,
    # renamed in first, the old generation deleted after — readers never
    # see an empty partition.
    _publish_manifest(
        fs, jvm, tmp.toString(), _COMPACT_MANIFEST, [f.getName() for f in files]
    )
    return _finish_compaction(fs, jvm, part_dir, tmp)


def compact_partitions(
    spark: SparkSession,
    data_dir: str,
    max_files_per_partition: int = 1,
    min_files_to_compact: int = 2,
) -> int:
    """Small-file compaction for the partitioned sink (the known 100 TB
    follow-up of per-file incremental ingest: millions of small parquet
    files inflate driver listing time and per-task overhead).

    Rewrites each hive partition that holds more than
    ``min_files_to_compact`` data files down to ``max_files_per_partition``
    files. The temp dir is dot-prefixed (hidden from partition discovery —
    a bare ``hour=N._compacting`` sibling would break hive layout parsing
    for concurrent readers of ``data_dir``, ADVICE r2), and the swap
    renames the new files in BEFORE deleting the old ones, so a concurrent
    reader never observes an empty partition — it may briefly observe both
    generations (duplicate rows); run compaction in a read-quiesced window
    for strict snapshot semantics. A crash mid-swap is repaired on the
    next run: the temp dir carries an old-generation manifest published
    (atomic rename, so existence == complete — code-review r11) before
    any data rename, and ``_finish_compaction`` replays the swap
    idempotently in the SAME reader-safe order — move the remaining
    folded files in first, delete the old generation after (without the
    manifest, a crash between the rename and delete loops would leave
    both generations double-counted forever — code-review r3; the
    delete-first replay order was itself a reader-visible undercount
    window, fixed r11). Returns the number of partitions
    compacted. Run it out-of-band (the reference has no equivalent — its
    output only ever accretes).

    Partitions are independent, so their fold jobs run under a bounded
    driver-side thread pool (``_COMPACT_CONCURRENCY`` concurrent Spark
    jobs — the scheduler interleaves them across executor slots; VERDICT
    r3: the serial loop was the bottleneck at a millions-of-partitions
    archive).
    A partition that fails mid-swap doesn't strand the rest: every
    partition gets its attempt, then the first error is re-raised — its
    partition is repaired by recovery on the next run."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return 0

    # collect leaf partition dirs (year=/month=/day=/hour=); dot/underscore
    # dirs (compaction temps, markers) are not partitions
    def leaves(p):
        subs = [
            s.getPath()
            for s in fs.listStatus(p)
            if s.isDirectory() and not s.getPath().getName().startswith((".", "_"))
        ]
        if not subs:
            return [p]
        out = []
        for s in subs:
            out.extend(leaves(s))
        return out

    parts = leaves(root)
    if not parts:
        return 0
    from concurrent.futures import ThreadPoolExecutor

    errors: list[Exception] = []

    def _try(part_dir) -> bool:
        try:
            return _compact_one(
                spark, fs, jvm, part_dir, max_files_per_partition, min_files_to_compact
            )
        except Exception as e:  # isolate: other partitions still compact
            errors.append(e)
            return False

    with ThreadPoolExecutor(max_workers=min(_COMPACT_CONCURRENCY, len(parts))) as ex:
        compacted = sum(ex.map(_try, parts))
    if errors:
        raise errors[0]
    return compacted


def archived_glob_for_partition(
    spark: SparkSession, done_dir: str, year: int, month: int, day: int, hour: int
) -> str | None:
    """Listing-level partition prune for :func:`reprocess_partition`: the
    filename IS the metadata (bom.py:94-107), so an hour partition's source
    files are selected by a NAME glob on the filename-encoded UTC stamp,
    applied as ``pathGlobFilter`` during the directory's single listing —
    matching runs JVM/object-store-side with O(1) driver round-trips (a
    per-file Python loop costs ~2 py4j round-trips per archived file:
    seconds at 1000 files, unusable at millions; a path-level glob turns
    every match into its own listing root, ~6x slower). Without any prune,
    rebuilding one hour read the entire ``done/`` archive's wholetext bytes
    just to discard them post-decode (VERDICT r3).

    Returns the name pattern (``{a,b}`` alternation covers the two UTC
    candidates of the DST fall-back hour), or None when the hour cannot
    exist (spring-forward), has no archived files, or the archive dir is
    absent. The glob is a SUPERSET selector (an underscore-happy base name
    could also contain ``_YYYYMMDD_HH``); exactness comes from the
    row-level partition filter in :func:`reprocess_partition`."""
    from .grid.filenames import utc_hours_for_sydney_partition

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(done_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return None
    stamps = [f"{u:%Y%m%d}_{u:%H}" for u in utc_hours_for_sydney_partition(year, month, day, hour)]
    if not stamps:
        return None
    pat = f"*_{stamps[0]}*" if len(stamps) == 1 else "*_{" + ",".join(stamps) + "}*"
    matches = fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{done_dir}/{pat}"))
    if matches is None or len(matches) == 0:
        return None  # no-op instead of an empty overwrite job
    return pat


def reprocess_partition(
    spark: SparkSession, ws: Workspace, year: int, month: int, day: int, hour: int
) -> int:
    """Ops path for corrected source data: re-derive ONE hour partition from
    the archived originals in ``done/`` and swap it in atomically via
    dynamic partition overwrite — only the targeted partition is rewritten,
    every other partition is untouched (the reference could only ever
    append, bom.py:76; corrections meant manual S3 surgery).

    The source scan opens only the target hour's archived files
    (:func:`archived_glob_for_partition`); the row-level partition filter
    makes the glob superset exact and guards the write against any parse
    divergence."""
    from pyspark.sql import Observation

    pat = archived_glob_for_partition(spark, ws.done_dir, year, month, day, hour)
    if pat is None:
        return 0
    meta = with_filename_metadata(
        read_grid_files(spark, ws.done_dir, path_glob_filter=pat)
    )
    points = decode_grids(meta).filter(
        (F.col("year") == year)
        & (F.col("month") == month)
        & (F.col("day") == day)
        & (F.col("hour") == hour)
    )
    # count via Observation DURING the write — a separate count() action
    # would decode every archived source file twice
    obs = Observation("reprocess")
    points = points.observe(obs, F.count(F.lit(1)).alias("rows"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        points.repartition(*PARTITION_COLS)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .parquet(ws.data_dir)
    )
    return obs.get["rows"]


#: manifest inside a batch staging dir listing the staged data files; its
#: presence marks the staged generation COMPLETE (same committed-marker
#: pattern as _COMPACT_MANIFEST)
_STAGE_MANIFEST = "_BATCHFILES"


def _staged_data_files(fs, staging) -> list[str]:
    """Relative paths (partition dirs + file name) of the data files under a
    staging dir. One entry per FILE per batch — bounded by batch size, the
    same driver-side bound the classify/move lists already have. Paths are
    sliced against the FS-qualified root (listStatus returns qualified URIs
    like ``file:/...`` even when the caller's URI is scheme-less)."""
    base = fs.makeQualified(staging).toString()
    rels = []
    stack = [staging]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if st.isDirectory():
                if not name.startswith((".", "_")):
                    stack.append(st.getPath())
            elif not name.startswith(("_", ".")):
                rels.append(st.getPath().toString()[len(base) + 1 :])
    return sorted(rels)


def _stage_batch(fs, jvm, batch_df: DataFrame, staging_uri: str) -> None:
    """(Re)stage one micro-batch into ``staging_uri``, then publish the
    manifest that marks the staged generation complete.  Overwrite
    discards any partial generation whose write or manifest publish
    crashed — nothing from it was published (publish only runs with a
    manifest)."""
    (
        batch_df.repartition(*PARTITION_COLS)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .parquet(staging_uri)
    )
    staging = jvm.org.apache.hadoop.fs.Path(staging_uri)
    _publish_manifest(
        fs, jvm, staging_uri, _STAGE_MANIFEST, _staged_data_files(fs, staging)
    )


def publish_staged_batch(
    spark: SparkSession, staging_uri: str, data_dir: str
) -> list[str]:
    """Exactly-once publish of one staged micro-batch into the partitioned
    sink — idempotent under re-delivery at ANY crash point.

    Protocol (mirrors the compaction swap's manifest recovery):

    1. no manifest in the staging dir -> the staged write or its
       manifest publish died; caller restages (:func:`_stage_batch`:
       mode=overwrite, manifest renamed in AFTER the write completes);
    2. manifest present -> the staged generation is complete and immutable;
       each listed file renames into its partition dir (staged names are
       unique, so a re-run renames only the files a previous attempt
       didn't get to — a rename whose destination already exists means
       THIS file was already published: the leftover source is dropped);
    3. the caller marks the batch committed only after every rename, then
       deletes the staging dir.

    Returns the manifest's relative paths (partition dir + file name)."""
    jvm = spark._jvm
    staging = jvm.org.apache.hadoop.fs.Path(staging_uri)
    fs = staging.getFileSystem(spark._jsc.hadoopConfiguration())
    manifest = jvm.org.apache.hadoop.fs.Path(f"{staging_uri}/{_STAGE_MANIFEST}")
    stream = fs.open(manifest)
    try:
        rels = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8").splitlines()
    finally:
        stream.close()
    for rel in rels:
        if not rel:
            continue
        src = jvm.org.apache.hadoop.fs.Path(f"{staging_uri}/{rel}")
        dst = jvm.org.apache.hadoop.fs.Path(f"{data_dir}/{rel}")
        if not fs.exists(src):
            continue  # already renamed by a previous (crashed) attempt
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            if fs.exists(dst):
                fs.delete(src, False)  # best-effort: published by a racing prior attempt
            else:
                raise OSError(f"publish rename failed: {src} -> {dst}")
    return [r for r in rels if r]


def _batch_committed(spark: SparkSession, commit_dir: str, batch_id: int) -> bool:
    """True if the sink-side commit marker for *batch_id* exists."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{commit_dir}/{batch_id}")
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def _mark_batch_committed(spark: SparkSession, commit_dir: str, batch_id: int) -> None:
    """Write the (empty) sink-side commit marker for *batch_id*."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{commit_dir}/{batch_id}")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(p.getParent())
    fs.create(p, True).close()


def ingest_stream(
    spark: SparkSession,
    ws: Workspace,
    checkpoint: str,
    fq_table: str | None = None,
    available_now: bool = True,
    rollup_dir: str | None = None,
):
    """T1/S6: incremental exactly-once file ingest — Structured Streaming
    file source + checkpoint (the reference's S3 ObjectCreated trigger +
    SQS retry, bom_create_bucket.py:80-97, lambda.cfn.yaml:37-45).

    ``foreachBatch``: partitioned write + T8 partition registration after
    each commit — synchronous, removing the reference's fire-and-forget
    partition-visibility race (bom_partition.py:80,129). With
    ``available_now`` the query drains pending files and stops (batch-drain
    semantics); otherwise it keeps watching ``in/``. With ``rollup_dir``
    each batch also appends hourly partial aggregates (the incrementally-
    maintained rollup, streaming/rollup.py).

    Exactly-once: foreachBatch re-delivers a micro-batch (same batch_id)
    after a failed/restarted trigger, and plain parquet appends are not
    idempotent — so each batch goes through stage -> manifest -> publish:
    the batch decodes ONCE into ``<checkpoint>/staging/<batch_id>``
    (overwrite mode, so a crashed staging write just re-runs), a manifest
    renamed in after the staged write marks that generation complete and
    immutable, and :func:`publish_staged_batch` renames the staged files
    into the partition dirs (unique names; renames are individually
    idempotent under replay). Rollup partials land in a per-batch
    OVERWRITTEN subdir and partition registration uses ADD IF NOT EXISTS,
    so every post-staging step is replay-safe; the commit marker
    (``<checkpoint>/sink_commits/<batch_id>``) is written last. A crash at
    ANY point therefore resumes without duplicating or losing a row — the
    r3 'residual window' (re-appending a whole batch when the crash landed
    between data write and marker) is closed, with no table format needed.
    As a bonus the staged parquet, not a re-decode, feeds the rollup
    partials and the partition list: one decode pass per batch instead of
    three.

    Note: malformed files are not moved here (the streaming source tracks
    its input files; moving them mid-stream breaks the source) — their rows
    degrade to NULL and are dropped by decode; run :func:`ingest_batch` for
    the moving/quarantining state machine.
    """
    files = (
        spark.readStream.format("text")
        .option("wholetext", True)
        .load(ws.in_dir)
        .select(F.input_file_name().alias("_path"), F.col("value").alias("_content"))
    )
    points = decode_grids(with_filename_metadata(files))
    commit_dir = f"{checkpoint}/sink_commits"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        jvm = spark._jvm
        staging_uri = f"{checkpoint}/staging/{batch_id}"
        staging = jvm.org.apache.hadoop.fs.Path(staging_uri)
        fs = staging.getFileSystem(spark._jsc.hadoopConfiguration())
        if _batch_committed(spark, commit_dir, batch_id):
            # re-delivered batch, already fully committed; reap a staging
            # dir left by a crash between the marker write and the cleanup
            fs.delete(staging, True)  # best-effort: scratch reap, next replay re-reaps
            return
        manifest = jvm.org.apache.hadoop.fs.Path(f"{staging_uri}/{_STAGE_MANIFEST}")
        if not fs.exists(manifest):
            _stage_batch(fs, jvm, batch_df, staging_uri)
        rels = publish_staged_batch(spark, staging_uri, ws.data_dir)
        parts = sorted(
            {tuple(seg.split("=")[1] for seg in rel.split("/")[:-1]) for rel in rels}
        )
        # a file whose NAME fails the grammar decodes with NULL Date ->
        # NULL partition values -> __HIVE_DEFAULT_PARTITION__ dirs. The
        # stream cannot quarantine (the source tracks its inputs), so the
        # rows publish there — quarantine-in-place, visible to direct
        # parquet reads — but they CANNOT be catalog-registered in an
        # int-typed partition scheme. Before r14 the int() parse below
        # aborted the sink on them; foreachBatch then replayed the same
        # batch forever: one bad filename poison-pilled the whole stream
        # (weird-grid net).
        part_dicts = [
            dict(zip(PARTITION_COLS, (int(v) for v in p)))
            for p in parts
            if "__HIVE_DEFAULT_PARTITION__" not in p
        ]
        if rollup_dir is not None:
            from .streaming.rollup import append_hourly_partials

            # partials come from the staged parquet (columnar re-read, no
            # second decode)... but the staged files were just renamed out;
            # read the published files for exactly this batch via the
            # manifest paths — still one decode total
            batch_files = [f"{ws.data_dir}/{rel}" for rel in rels]
            staged_points = spark.read.option("basePath", ws.data_dir).parquet(
                *batch_files
            )
            append_hourly_partials(staged_points, rollup_dir, batch_id=batch_id)
        if fq_table is not None:
            register_batch_partitions(spark, fq_table, ws, part_dicts)
        _mark_batch_committed(spark, commit_dir, batch_id)
        fs.delete(staging, True)  # best-effort: committed; leftover staging is reaped on replay

    writer = (
        points.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
