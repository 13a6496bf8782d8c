"""The checker process.

It makes the seeded inputs (``gen.py``) and holds the truth the
checkers (``checks.py``) compare the engine's answers with, in a process
of its own.  So the inputs exist before the engine is imported, and the
checkers' memory (source data, DuckDB, numpy truth matrices, the
changelog replay) stays out of ``peak_rss_mb``.

The benchmark talks to it over a pipe: one pickled ``(method, args)``
request, one pickled ``(status, value)`` reply.  The first reply,
before any request, is the inputs' description.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import traceback

import numpy as np

import checks
import gen


class Oracle:
    """The benchmark's handle on the checker process."""

    def __init__(self, workload: str, root: str, seed: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), workload, root, str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        try:
            self.inputs = self._reply()
        except BaseException:
            self.close()
            raise

    def _reply(self):
        try:
            status, value = pickle.load(self.proc.stdout)
        except EOFError:
            raise RuntimeError("the checker process ended") from None
        if status != "ok":
            raise RuntimeError(f"checker process:\n{value}")
        return value

    def __call__(self, method: str, *args):
        pickle.dump((method, args), self.proc.stdin)
        self.proc.stdin.flush()
        return self._reply()

    def close(self) -> None:
        """End the process and wait for it."""
        if self.proc.returncode is not None:
            return
        try:
            self.proc.stdout.close()
            self.proc.stdin.close()
            self.proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck checker is killed
            self.proc.kill()
            self.proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# the truth of each workload, held in the checker process
# ---------------------------------------------------------------------------

class SnapshotTruth:
    def __init__(self, root: str, seed: int) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.source_dir, self.want, self.inputs = {}, {}, {}
        for which in gen.INPUT_SETS:
            inp = gen.make_snapshot(root, seed, which)
            self.source_dir[which] = inp.source_dir
            self.want[which] = inp.lookup_wants
            self.inputs[which] = {"source_dir": inp.source_dir,
                                  "rows": {t: tbl.num_rows
                                           for t, tbl in inp.tables.items()},
                                  "lookups": inp.lookups,
                                  "source_bytes": inp.source_bytes}

    def check_lookup(self, which: str, table: str, i: int, got: set) -> list[str]:
        return checks.check_lookup(got, self.want[which][table][i])

    def check_table(self, which: str, table: str, target: str) -> list[str]:
        return checks.check_snapshot_table(
            self.con, os.path.join(self.source_dir[which], table), target,
            gen.SNAPSHOT_TABLES[table])


class CdcTruth:
    def __init__(self, root: str, seed: int) -> None:
        inp = gen.make_cdc(root, seed)
        self.want = [
            checks.expected_reads(live, keys) for live, keys in zip(
                checks.replay(inp.snapshot_rows, inp.waves, gen.CDC_COLUMNS),
                inp.probe_keys)
        ]
        self.inputs = {
            "snapshot_path": inp.snapshot_path,
            "snapshot_bytes": inp.snapshot_bytes,
            "waves": [{"files": files, "events": len(events),
                       "probe_keys": keys, "live_rows": want["count"]}
                      for files, events, keys, want in zip(
                          inp.wave_files, inp.waves, inp.probe_keys, self.want)],
        }

    def check_read(self, w: int, name: str, got) -> list[str]:
        return checks.check_read(name, got, self.want[w])


class VectorTruth:
    def __init__(self, root: str, seed: int) -> None:
        self.inp = inp = gen.make_vectors(root, seed)
        self.inputs = {
            "base_path": inp.base_path,
            "query_path": inp.query_path,
            "waves": [{"path": p, "n": len(ids)}
                      for p, ids in zip(inp.wave_paths, inp.wave_ids)],
        }
        self.all_ids = np.concatenate([inp.base_ids] + inp.wave_ids)
        self.all_vecs = np.concatenate([inp.base_vecs] + inp.wave_vecs)
        self.row_of = {int(i): n for n, i in enumerate(self.all_ids)}
        self.base_set = {int(i) for i in inp.base_ids}
        self.indexed = set(self.base_set)
        self.cells = None

    def set_centroids(self, cents: list[list[float]]) -> None:
        """Every vector's cell by the engine's fold, computed in numpy."""
        self.cells = checks.assign_cells(self.all_vecs, np.array(cents))

    def _cell_of(self, i: int) -> int:
        return int(self.cells[self.row_of[i]])

    def _rows(self, ids) -> list[int]:
        return [self.row_of[int(i)] for i in ids]

    def begin_round(self) -> None:
        """Every round appends to a fresh copy of the built index."""
        self.indexed = set(self.base_set)

    def check_screen(self, w: int, got: set) -> list[str]:
        inp = self.inp
        idx_ids = np.array(sorted(self.indexed), dtype=np.int64)
        sure, border = checks.expected_pairs(
            idx_ids, self.all_vecs[self._rows(idx_ids)],
            self.cells[self._rows(idx_ids)], inp.wave_ids[w], inp.wave_vecs[w],
            self.cells[self._rows(inp.wave_ids[w])], gen.VEC_THRESHOLD,
        )
        return checks.check_pairs(
            got, sure, border, lambda i: self.all_vecs[self.row_of[i]],
            gen.VEC_THRESHOLD, inp.planted[w], self._cell_of)

    def appended(self, w: int, dropped: set) -> int:
        """The wave's rows less the dropped duplicates joined the index;
        returns the index size."""
        self.indexed.update(int(i) for i in self.inp.wave_ids[w]
                            if int(i) not in dropped)
        return len(self.indexed)

    def check_search(self, rows) -> tuple[list[str], float]:
        idx_ids = np.array(sorted(self.indexed), dtype=np.int64)
        return checks.check_search(
            rows, idx_ids, self.all_vecs[self._rows(idx_ids)],
            self.inp.query_ids, self.inp.query_vecs, gen.VEC_K,
            gen.VEC_RECALL_FLOOR)

    def check_index(self, path: str) -> list[str]:
        """The stored postings hold exactly the indexed ids, each in its cell."""
        import pyarrow.dataset as ds

        # the cell directories are named _cid=N, so only dot files and
        # Spark's _SUCCESS marker are skipped
        t = ds.dataset(path, format="parquet", partitioning="hive",
                       ignore_prefixes=[".", "_SUCCESS"]).to_table(
            columns=["vec_id", "_cid"])
        return checks.check_index(t.column("vec_id").to_numpy(),
                                  t.column("_cid").to_numpy(), self.indexed,
                                  self._cell_of)


TRUTHS = {"snapshot_copy": SnapshotTruth, "cdc_upsert": CdcTruth,
          "vector_ingest": VectorTruth}


def serve(workload: str, root: str, seed: int) -> int:
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # a stray print goes to stderr, not into the pipe
    requests = sys.stdin.buffer

    def reply(status: str, value) -> None:
        pickle.dump((status, value), out)
        out.flush()

    try:
        truth = TRUTHS[workload](root, seed)
    except Exception:  # noqa: BLE001 - reported to the benchmark
        reply("error", traceback.format_exc())
        return 1
    reply("ok", truth.inputs)
    while True:
        try:
            method, args = pickle.load(requests)
        except EOFError:
            return 0
        try:
            reply("ok", getattr(truth, method)(*args))
        except Exception:  # noqa: BLE001 - reported to the benchmark
            reply("error", traceback.format_exc())


if __name__ == "__main__":
    sys.exit(serve(sys.argv[1], sys.argv[2], int(sys.argv[3])))
