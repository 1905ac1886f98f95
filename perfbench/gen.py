"""Seeded input batches for the commit workloads, sliced from lineitem.

Each commit appends one contiguous slice of the committed sf0.01
lineitem fixture (``data/sf0.01/lineitem.parquet``, 60 000 rows); the
seed fixes every slice's offset, its row count and the files per
commit.  The engine only ever sees these slices (as Spark DataFrames).

The row and file ranges below are not taken from a trace of real
traffic: they keep each commit small next to the compaction target, so
ten commits leave ten or more small files to compact.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01", "lineitem.parquet")
ROWS_PER_COMMIT = (1_000, 4_000)  # evenly spread over each cycle, inclusive
FILES_PER_COMMIT = (1, 3)
SETUP_SHAPE = (2_500, 2)  # the initial table


class BatchGenerator:
    """Deterministic stream of (arrow slice, n_files) for one seed.

    Batch shapes are stratified by compaction cycle: every cycle of
    commits holds the same multiset of row counts and file counts, in a
    seeded order, so the work per cycle does not depend on the seed;
    only the order and the slice offsets do.  The first cycle is one
    commit short, because the table's initial write is already one
    pending commit.
    """

    CYCLE = 10  # the default commit threshold

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.source = pq.read_table(LINEITEM)
        self._cycle = self.CYCLE - 1
        self._shapes: list[tuple[int, int]] = []

    def _shape(self) -> tuple[int, int]:
        if not self._shapes:
            k, self._cycle = self._cycle, self.CYCLE
            rows = np.linspace(*ROWS_PER_COMMIT, k).astype(int)
            files = np.resize(np.arange(FILES_PER_COMMIT[0], FILES_PER_COMMIT[1] + 1), k)
            self._shapes = list(zip(self.rng.permutation(rows), self.rng.permutation(files)))
        return self._shapes.pop()

    def batch(self, shape: tuple[int, int] | None = None) -> tuple[pa.Table, int]:
        """The next batch; ``shape`` (rows, files) bypasses the cycle."""
        n, n_files = (int(x) for x in (shape or self._shape()))
        offset = int(self.rng.integers(0, self.source.num_rows - n + 1))
        return self.source.slice(offset, n), n_files
