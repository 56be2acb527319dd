"""Seeded input generators and their ground truth.

Everything here is plain Python/NumPy: the engine only ever sees the files
and rows these functions produce, and the checks compare the engine's
outputs against the truth recorded alongside them.  The same ``(seed,
index)`` always yields the same input, and generation is never inside a
timed region.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import numpy as np

_SYDNEY = ZoneInfo("Australia/Sydney")

#: the BOM national grid header: lower-left corner and cell size
XLL, YLL, CELLSIZE, NODATA = 112.0, -44.0, 0.05, -999
NODATA_SHARE = 0.10
MALFORMED_SHARE = 0.02
RADIATION_TYPES = ("GLOBAL", "DIRECT", "DIFFUSE")
#: first UTC hour of the arrival stream; January keeps Sydney clear of
#: the April/October DST transitions for the lengths a run reaches
_T0 = datetime(2018, 1, 8, 0, tzinfo=timezone.utc)


@dataclass
class GridBatch:
    """One arrival of grid files plus what a correct ingest must produce."""

    files: dict[str, str]  # file name -> content
    bad: dict[str, str] = field(default_factory=dict)  # name -> planted defect
    #: Sydney-local (year, month, day, hour) -> (points, sum of Radiation)
    truth: Counter = field(default_factory=Counter)
    radiation_sum: Counter = field(default_factory=Counter)

    def write(self, in_dir: str) -> None:
        for name, text in self.files.items():
            with open(os.path.join(in_dir, name), "w", encoding="utf-8") as f:
                f.write(text)


def _grid_text(rng: np.random.Generator, ncols: int, nrows: int) -> tuple[str, int, int]:
    vals = rng.integers(0, 1200, size=(nrows, ncols))
    nodata = rng.random((nrows, ncols)) < NODATA_SHARE
    kept = vals[~nodata]
    vals[nodata] = NODATA
    body = "\n".join(" ".join(map(str, row)) for row in vals.tolist())
    header = (
        f"ncols {ncols}\nnrows {nrows}\nxllcorner {XLL}\nyllcorner {YLL}\n"
        f"cellsize {CELLSIZE}\nNODATA_value {NODATA}\n"
    )
    return header + body + "\n", int(kept.size), int(kept.sum())


def grid_batch(
    seed: int,
    index: int,
    files: int,
    shape: tuple[int, int],
    plant_every_defect: bool = False,
) -> GridBatch:
    """Arrival ``index`` of the stream for ``seed``.

    Batch ``i`` covers UTC hours ``2i .. 2i+2``, its files spread evenly
    over the three hours (several files share an hour, with distinct base
    names), so its last hour is also the first hour of batch ``i+1``:
    every batch adds a second file to one partition, which the next
    compaction folds.  About 2% of files are malformed (bad header, bad
    filename or empty); ``plant_every_defect`` adds one of each kind, so
    every run has quarantine traffic to check.  The number of good files
    and their hours are fixed, so every seed asks for the same amount of
    work, in the ops and in the compactions."""
    rng = np.random.default_rng([seed, index])
    ncols, nrows = shape
    batch = GridBatch(files={})
    n = files
    defects = ["bad_header", "bad_filename", "empty"] if plant_every_defect else []
    defects += [
        str(rng.choice(["bad_header", "bad_filename", "empty"]))
        for _ in range(n)
        if rng.random() < MALFORMED_SHARE
    ]
    for i in range(n + len(defects)):
        offset = (0, 2, 1)[i % 3]
        utc = _T0 + timedelta(hours=2 * index + offset)
        kind = RADIATION_TYPES[int(rng.integers(0, len(RADIATION_TYPES)))]
        stamp = utc.strftime("%Y%m%d_%H00")
        name = f"IDCJB{seed % 1000:03d}{index:04d}{i:02d}_{kind}_{stamp}.txt"
        text, points, total = _grid_text(rng, ncols, nrows)
        if i >= n:
            defect = defects[i - n]
            if defect == "bad_header":
                text = text.replace(f"ncols {ncols}", "ncols ?", 1)
            elif defect == "bad_filename":
                name = name.replace(stamp, utc.strftime("%Y%m%d")[:7] + "_x", 1)
            else:
                text = ""
            batch.bad[name] = defect
        else:
            local = utc.astimezone(_SYDNEY)
            part = (local.year, local.month, local.day, local.hour)
            batch.truth[part] += points
            batch.radiation_sum[part] += total
        batch.files[name] = text
    return batch


# --------------------------------------------------------------- corpus

VOCAB = [f"w{i:04d}" for i in range(2000)]


@dataclass
class Arrival:
    """One arriving document batch plus its planted ground truth."""

    rows: list[tuple[int, str]]
    #: doc_id -> 'fresh' | 'exact_index' | 'exact_batch' | 'near'
    kind: dict[int, str]


#: words per doc: the 10th to 90th percentile of the repo's documents table
#: (19 and 90 words at sf0.01 and sf0.1)
WORDS = (19, 90)


def _doc(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(WORDS[0], WORDS[1] + 1))
    return [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n)]


def _near(rng: np.random.Generator, words: list[str]) -> list[str]:
    """A near-duplicate: ~5% of the words replaced."""
    out = list(words)
    for j in rng.choice(len(out), size=max(1, len(out) // 20), replace=False):
        out[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def corpus(seed: int, n: int) -> list[tuple[int, str]]:
    """The indexed corpus: ids ``0 .. n-1``, all mutually distinct."""
    rng = np.random.default_rng([seed, 1 << 20])
    return [(i, " ".join(_doc(rng))) for i in range(n)]


def arrival(
    seed: int, index: int, first_id: int, size: int, indexed: list[tuple[int, str]]
) -> Arrival:
    """Arrival ``index``: ``size`` docs with ascending ids from ``first_id``.

    Planted families: copies of indexed docs (exact and near) and copies of
    earlier docs of the same arrival (exact and near).  About one doc in
    eight is a planted copy; the rest are fresh random docs."""
    rng = np.random.default_rng([seed, index])
    texts: list[list[str]] = []
    kind: list[str] = []
    for _ in range(size):
        r = rng.random()
        fresh_before = [j for j, k in enumerate(kind) if k == "fresh"]
        if r < 0.04:
            texts.append(indexed[int(rng.integers(0, len(indexed)))][1].split())
            kind.append("exact_index")
        elif r < 0.07:
            texts.append(_near(rng, indexed[int(rng.integers(0, len(indexed)))][1].split()))
            kind.append("near")
        elif r < 0.10 and fresh_before:
            texts.append(list(texts[fresh_before[int(rng.integers(0, len(fresh_before)))]]))
            kind.append("exact_batch")
        elif r < 0.125 and fresh_before:
            texts.append(_near(rng, texts[fresh_before[int(rng.integers(0, len(fresh_before)))]]))
            kind.append("near")
        else:
            texts.append(_doc(rng))
            kind.append("fresh")
    ids = range(first_id, first_id + size)
    return Arrival(
        rows=[(i, " ".join(t)) for i, t in zip(ids, texts)],
        kind=dict(zip(ids, kind)),
    )
