"""The benchmark's workloads: one object per set-up, driven through the
engine's public functions only.

A workload builds its starting state (``setup``), then yields its steps:
first the warm-up pass (``warmup``), then the closed loop one cycle at a
time (``cycle``).  Each step is ``(kind, call)``: ``kind`` is ``"op"`` for the
primary operation and ``"maint"`` for the maintenance that follows every
op, and ``call()`` performs exactly the engine work that is timed and
returns the number of user items it handled.  Maintenance after every op
gives each run several maintenance samples, so their median is steady.
Every op of a cycle is of one size class, so the cycle's slowest op is a
tail sample, not the largest op of a mixed cycle.
Input generation happens in the generator between steps, outside the
timed calls.  ``check`` compares the final state with the generator's
ground truth through DuckDB, an engine independent of Spark.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import duckdb

from . import inputs


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _listdir(path: str) -> set[str]:
    return set(os.listdir(path)) if os.path.isdir(path) else set()


class GridIngest:
    """Arrival batches of ESRI grid files, each drained by ``ingest_batch``
    into a registered Hive-partitioned table and followed by
    ``compact_partitions``, which folds the partition the batch shared with
    its predecessor."""

    name = "grid_ingest"
    CYCLE = 2
    COLS = ["Longitude", "Latitude"]
    #: 50x40-cell files, the grid of bench.py's flagship decode corpus
    #: (~1,800 points per file at ~10% NODATA); files per batch are chosen
    #: for run time
    SHAPE = (50, 40)
    FILES_PER_BATCH = 6

    def __init__(self, seed: int, base: str, smoke: bool = False) -> None:
        self.seed, self.base = seed, base
        self.files_per_batch, self.shape = (2, (20, 10)) if smoke else (self.FILES_PER_BATCH, self.SHAPE)
        self.next_batch = 0
        self.truth: Counter = Counter()
        self.radiation_sum: Counter = Counter()
        self.good: set[str] = set()
        self.bad: dict[str, str] = {}
        #: rows ingest_batch reported, per accepted batch
        self.rows_written: list[int] = []
        os.makedirs(base)
        #: the initial ingest, with every defect planted
        self._initial = self._stage_batch(plant_every_defect=True)

    def _stage_batch(self, plant_every_defect: bool = False) -> inputs.GridBatch:
        batch = inputs.grid_batch(
            self.seed, self.next_batch, self.files_per_batch, self.shape, plant_every_defect
        )
        self.next_batch += 1
        return batch

    def setup(self, spark) -> None:
        from etl_bom_radiation_spark import workspace

        self.spark = spark
        self.ws = workspace.init_workspace(spark, f"file://{self.base}/ws")
        db = workspace.create_database(spark, "perfbench")
        self.fq = workspace.register_table(spark, db, "radiation", self.ws)
        self._initial.write(self._local(self.ws.in_dir))
        self._ingest(self._initial)

    def _ingest(self, batch: inputs.GridBatch) -> int:
        from etl_bom_radiation_spark import ingest

        res = ingest.ingest_batch(
            self.spark,
            self.ws,
            fq_table=self.fq,
            stats_manifest_cols=self.COLS,
        )
        # truth is recorded only once the engine accepted the batch, so a
        # failed op does not also fail the output check
        self.truth.update(batch.truth)
        self.radiation_sum.update(batch.radiation_sum)
        self.good.update(set(batch.files) - set(batch.bad))
        self.bad.update(batch.bad)
        self.rows_written.append(res.rows_written)
        return res.rows_written

    def _compact(self) -> int:
        from etl_bom_radiation_spark import ingest

        ingest.compact_partitions(self.spark, self.ws.data_dir)
        return 0

    def warmup(self):
        """A batch and its compaction: unlike the initial batch, it meets an
        existing partition and manifest, as every loop batch does,
        and the first loop batch then meets a compacted table."""
        return self._steps(1)

    def cycle(self):
        return self._steps(self.CYCLE)

    def _steps(self, n: int):
        for _ in range(n):
            batch = self._stage_batch()
            batch.write(self._local(self.ws.in_dir))
            yield "op", lambda b=batch: self._ingest(b)
            yield "maint", self._compact

    @staticmethod
    def _local(uri: str) -> str:
        return uri.removeprefix("file://")

    def _data_files(self) -> list[str]:
        root = self._local(self.ws.data_dir)
        return [
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet") and "/_" not in d[len(root):] and "/." not in d[len(root):]
        ]

    def stored(self) -> tuple[int, int]:
        """(on-disk bytes of the table directory, points it holds)"""
        return _du(self._local(self.ws.data_dir)), sum(self.truth.values())

    def layer_extras(self, spans, n_ops: int) -> dict[str, float]:
        # the traced loop ingested the last n_ops batches
        written = sum(self.rows_written[-n_ops:]) or 1
        points = [s for s in spans if s.name == "ingest.write_points"]
        compacts = [s for s in spans if s.name == "ingest.compact_partitions"]
        files = self._data_files()
        return {
            "grid.decode_cpu_s": sum(s.map_cpu_s for s in points) / n_ops,
            "ingest.bytes_rewritten_per_point": sum(s.output_bytes for s in compacts) / written,
            "ingest.files_per_partition": len(files) / max(1, len({os.path.dirname(f) for f in files})),
        }

    def corrupt(self) -> None:
        """Plant one stray row in the table, as a faulty writer would."""
        f = self._data_files()[0]
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{f}') LIMIT 1) "
            f"TO '{os.path.dirname(f)}/stray.parquet' (FORMAT parquet)"
        )

    def check(self) -> list[str]:
        problems = []
        data = self._local(self.ws.data_dir)
        got = {
            (y, m, d, h): (n, s)
            for y, m, d, h, n, s in duckdb.sql(
                f"""SELECT year, month, day, hour, count(*), sum(Radiation)
                    FROM read_parquet('{data}/year=*/month=*/day=*/hour=*/*.parquet',
                                      hive_partitioning = true)
                    GROUP BY ALL"""
            ).fetchall()
        }
        want = {p: (self.truth[p], self.radiation_sum[p]) for p in self.truth}
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:5]
            problems.append(f"partition row counts/sums differ from the generator: {diff}")
        if sum(self.rows_written) != sum(self.truth.values()):
            problems.append(
                f"ingest_batch reported {sum(self.rows_written)} rows, generator wrote "
                f"{sum(self.truth.values())}"
            )
        registered = {
            tuple(int(kv.split("=")[1]) for kv in r[0].split("/"))
            for r in self.spark.sql(f"SHOW PARTITIONS {self.fq}").collect()
        }
        if registered != set(want):
            problems.append(
                f"catalog partitions {len(registered)} != generator partitions {len(want)}"
            )
        served = self.spark.table(self.fq).count()
        if served != sum(self.truth.values()):
            problems.append(f"catalog table serves {served} rows, expected {sum(self.truth.values())}")
        quarantined = _listdir(self._local(self.ws.quarantine_dir))
        if quarantined != set(self.bad):
            problems.append(
                f"quarantine holds {sorted(quarantined ^ set(self.bad))[:5]} "
                "against the planted malformed files"
            )
        if _listdir(self._local(self.ws.done_dir)) != self.good:
            problems.append("done/ does not hold exactly the well-formed files")
        if _listdir(self._local(self.ws.in_dir)):
            problems.append("in/ was not drained")
        return problems


class CorpusAdmit:
    """Arrival batches of documents admitted against a persisted LSH index
    with ``admit_batch(..., max_docs=M, epoch=i)``, each followed by
    ``compact_lsh_index``, which folds the files the admission appended.

    Arrival sizes vary in a fixed pattern, in multiples of ``max_docs``,
    and every one splits into two sub-batches, so every run measures the
    same mix of work whatever its seed and every op is of one size class;
    the seed picks the text and the planted duplicates.  The index has the
    document count of the repo's sf0.01 documents table; arrival sizes are
    chosen for run time."""

    name = "corpus_admit"
    CYCLE = 2
    MAX_DOCS = 100
    INDEX_DOCS = 500
    #: arrival sizes of a cycle, then of the warm-up, in units of max_docs;
    #: the warm-up splits too, so the first loop arrival is not the run's
    #: first pass through the split path
    ARRIVALS = (1.5, 1.9)
    WARMUP = (1.7,)
    FILES_PER_TABLE = 4

    def __init__(self, seed: int, base: str, smoke: bool = False) -> None:
        self.seed, self.base = seed, base
        self.max_docs = 10 if smoke else self.MAX_DOCS
        self.indexed = inputs.corpus(seed, 150 if smoke else self.INDEX_DOCS)
        os.makedirs(base)
        self.index_dir = f"file://{base}/index"
        self.next_id = len(self.indexed)
        self.staged = 0
        #: epoch -> arrival, and epoch -> the verdict rows admit_batch returned
        self.arrivals: dict[int, inputs.Arrival] = {}
        self.verdicts: dict[int, list] = {}

    def _stage(self, share: float) -> tuple[int, inputs.Arrival]:
        """The next arrival, of ``share`` times ``max_docs`` docs, and its
        epoch."""
        epoch = self.staged
        size = round(self.max_docs * share)
        arr = inputs.arrival(self.seed, epoch, self.next_id, size, self.indexed)
        self.staged += 1
        self.next_id += size
        return epoch, arr

    def setup(self, spark) -> None:
        from etl_bom_radiation_spark import lsh_index

        self.spark = spark
        docs = spark.createDataFrame(self.indexed, "doc_id long, text string")
        lsh_index.build_lsh_index(spark, docs, self.index_dir)

    def _batch(self, arr: inputs.Arrival):
        return self.spark.createDataFrame(arr.rows, "doc_id long, text string")

    def _admit(self, epoch: int, arr: inputs.Arrival, batch) -> int:
        from etl_bom_radiation_spark import lsh_index

        rows = lsh_index.admit_batch(
            self.spark, self.index_dir, batch, max_docs=self.max_docs, epoch=epoch
        ).collect()
        self.arrivals[epoch] = arr
        self.verdicts[epoch] = rows
        return len(arr.rows)

    def _compact(self) -> int:
        from etl_bom_radiation_spark import lsh_index

        lsh_index.compact_lsh_index(self.spark, self.index_dir, self.FILES_PER_TABLE)
        return 0

    def warmup(self):
        """An arrival and its compaction, so the first loop arrival meets a
        compacted index, as every later one does."""
        return self._steps(self.WARMUP)

    def cycle(self):
        return self._steps(self.ARRIVALS)

    def _steps(self, shares):
        for share in shares:
            epoch, arr = self._stage(share)
            batch = self._batch(arr)
            yield "op", lambda e=epoch, a=arr, b=batch: self._admit(e, a, b)
            yield "maint", self._compact

    def _meta(self) -> dict:
        with open(f"{self.base}/index/meta.json", encoding="utf-8") as f:
            return json.load(f)

    def _table_files(self) -> list[int]:
        return [
            sum(1 for f in os.listdir(f"{self.base}/index/{t}.parquet") if f.startswith("part-"))
            for t in ("bands", "hsets")
        ]

    def stored(self) -> tuple[int, int]:
        """(on-disk bytes of the index directory, docs it holds)"""
        return _du(f"{self.base}/index"), len(self.indexed) + self._kept()

    def _kept(self) -> int:
        return sum(r["decision"] == "keep" for rows in self.verdicts.values() for r in rows)

    def layer_extras(self, spans, n_ops: int) -> dict[str, float]:
        admits = [s for s in spans if s.name == "lsh_index.admit_batch"]
        ids = {s.id for s in admits}
        parents = {s.parent for s in admits}
        top = [s for s in admits if s.parent not in ids]
        leaves = [s for s in admits if s.id not in parents]
        # the traced loop admitted the last n_ops arrivals
        rows = [r for rs in list(self.verdicts.values())[-n_ops:] for r in rs]
        cands = sum(r["n_index_cand"] + r["n_shard_cand"] for r in rows)
        drops = sum(r["decision"] != "keep" for r in rows)
        return {
            "lsh_index.sub_batches_per_admit": len(leaves) / max(1, len(top)),
            "lsh_index.candidates_per_doc": cands / max(1, len(rows)),
            "lsh_index.verify_yield": drops / max(1, cands),
            "lsh_index.files_per_table": sum(self._table_files()) / 2,
        }

    def corrupt(self) -> None:
        """Flip the first verdict, as a faulty admission would."""
        rows = next(iter(self.verdicts.values()))
        flipped = "drop_index_dup" if rows[0]["decision"] == "keep" else "keep"
        rows[0] = {**rows[0].asDict(), "decision": flipped}

    def check(self) -> list[str]:
        problems = []
        kept = 0
        for epoch, arr in self.arrivals.items():
            rows = self.verdicts[epoch]
            decided = Counter(r["doc_id"] for r in rows)
            if sorted(decided) != sorted(arr.kind) or max(decided.values()) != 1:
                problems.append(f"arrival {epoch}: not exactly one verdict per doc")
                continue
            for r in rows:
                kind = arr.kind[r["doc_id"]]
                if kind.startswith("exact") and r["decision"] == "keep":
                    problems.append(f"planted exact duplicate {r['doc_id']} ({kind}) was kept")
                if kind == "fresh" and r["decision"] != "keep":
                    problems.append(f"fresh doc {r['doc_id']} was dropped ({r['decision']})")
            kept += sum(r["decision"] == "keep" for r in rows)
        hw = self._meta()["max_doc_id"]
        n, distinct = duckdb.sql(
            f"""SELECT count(*), count(DISTINCT doc_id)
                FROM read_parquet('{self.base}/index/hsets.parquet/*.parquet')
                WHERE doc_id <= {hw}"""
        ).fetchone()
        if not n == distinct == len(self.indexed) + kept:
            problems.append(
                f"index holds {n} rows / {distinct} docs, expected build "
                f"{len(self.indexed)} + kept {kept}"
            )
        return problems[:20]


WORKLOADS = {w.name: w for w in (GridIngest, CorpusAdmit)}

