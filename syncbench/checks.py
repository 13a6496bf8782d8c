"""Checkers built apart from the engine.

They use DuckDB, pyarrow, numpy and plain Python only.  Each returns a
list of problems; an empty list means the output is right.
``selftest.py`` feeds each of them corrupted output and expects
problems back.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# snapshot_copy
# ---------------------------------------------------------------------------

_DUCK_SIGNED = {"tinyint": "TINYINT", "smallint": "SMALLINT",
                "mediumint": "INTEGER", "int": "INTEGER", "bigint": "BIGINT"}
_DUCK_UNSIGNED = {"tinyint": "SMALLINT", "smallint": "INTEGER",
                  "mediumint": "INTEGER", "int": "BIGINT",
                  "bigint": "DECIMAL(20,0)"}
_DUCK_SIMPLE = {"float": "FLOAT", "double": "DOUBLE", "bool": "BOOLEAN",
                "date": "DATE", "datetime": "TIMESTAMP"}


def duck_type(mysql_type: str, unsigned: bool, precision, scale) -> str:
    """The DuckDB type of the Spark type a MySQL column maps to."""
    if mysql_type == "decimal":
        return f"DECIMAL({precision},{scale})"
    if mysql_type in _DUCK_SIGNED:
        return (_DUCK_UNSIGNED if unsigned else _DUCK_SIGNED)[mysql_type]
    return _DUCK_SIMPLE.get(mysql_type, "VARCHAR")


def _select_list(decl: dict) -> str:
    out = []
    for name, t, _null, unsigned, p, s in decl["columns"]:
        dt = duck_type(t, unsigned, p, s)
        if dt == "TIMESTAMP":
            # compare instants as microseconds: the source is a naive
            # timestamp, the target may come back zoned (UTC)
            out.append(f'epoch_us("{name}") AS "{name}"')
        else:
            out.append(f'CAST("{name}" AS {dt}) AS "{name}"')
    return ", ".join(out)


def check_snapshot_table(con, source_dir: str, target_dir: str,
                         decl: dict) -> list[str]:
    """Bag equality of target and source under the declared mapping,
    the target's column types, and PK order inside every target file."""
    problems = []
    files = sorted(glob.glob(os.path.join(target_dir, "*.parquet")))
    if not files:
        return [f"{target_dir}: no parquet files"]
    src = f"read_parquet('{source_dir}/*.parquet')"
    tgt = f"read_parquet('{target_dir}/*.parquet')"
    types = dict(con.execute(
        f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {tgt})"
    ).fetchall())
    for name, t, _null, unsigned, p, s in decl["columns"]:
        want = duck_type(t, unsigned, p, s)
        got = types.get(name)
        if got is None:
            problems.append(f"column {name} missing from target")
        elif got != want and not (want == "TIMESTAMP" and got.startswith("TIMESTAMP")):
            problems.append(f"column {name}: target type {got}, declared {want}")
    if problems:
        return problems
    sel = _select_list(decl)
    for a, b, what in ((src, tgt, "missing from target"),
                       (tgt, src, "extra in target")):
        n = con.execute(
            f"SELECT count(*) FROM (SELECT {sel} FROM {a} "
            f"EXCEPT ALL SELECT {sel} FROM {b})"
        ).fetchone()[0]
        if n:
            problems.append(f"{n} rows {what}")
    pks = list(decl["pks"])
    for f in files:
        t = pq.read_table(f, columns=pks)
        idx = pc.sort_indices(t, sort_keys=[(k, "ascending") for k in pks])
        if not np.array_equal(idx.to_numpy(), np.arange(t.num_rows)):
            problems.append(f"{os.path.basename(f)} is not in PK order")
    return problems


def check_lookup(got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [f"lookup: {len(want - got)} rows missing, {len(got - want)} wrong"]


# ---------------------------------------------------------------------------
# cdc_upsert
# ---------------------------------------------------------------------------

def replay(snapshot_rows: dict, waves: list[list[dict]], columns) -> list[dict]:
    """Live state after each wave: the highest version wins (snapshot rows
    are version 0, an event's version is its seq) and a tombstone hides
    its key."""
    state = {k: (0, row) for k, row in snapshot_rows.items()}
    out = []
    for events in waves:
        for e in events:
            k = e["order_id"]
            cur = state.get(k)
            if cur is not None and cur[0] >= e["seq"]:
                continue            # older or re-delivered event
            row = None if e["op"] == "D" else tuple(e[c] for c in columns)
            state[k] = (e["seq"], row)
        out.append({k: r for k, (_v, r) in state.items() if r is not None})
    return out


def expected_reads(live: dict, probe_keys: list[int]) -> dict:
    by_status: dict = {}
    for row in live.values():
        n, s = by_status.get(row[2], (0, 0))
        by_status[row[2]] = (n + 1, s + row[3])
    return {
        "count": len(live),
        "point": {live[k] for k in probe_keys if k in live},
        "by_status": by_status,
    }


def check_read(name: str, got, want: dict) -> list[str]:
    if got == want[name]:
        return []
    return [f"live query {name}: got {str(got)[:200]}, want {str(want[name])[:200]}"]


# ---------------------------------------------------------------------------
# vector_ingest
# ---------------------------------------------------------------------------

def assign_cells(vecs: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Nearest centroid by dot product, summed one dimension at a time in
    float64 (the engine's fold order, so ties and last bits agree);
    the lowest cell id wins a tie."""
    x = vecs.astype(np.float64)
    acc = np.zeros((len(x), len(cents)))
    for i in range(x.shape[1]):
        acc += x[:, i:i + 1] * cents[None, :, i]
    return acc.argmax(axis=1)


def expected_pairs(index_ids, index_vecs, index_cells, new_ids, new_vecs,
                   new_cells, threshold: float, band: float = 1e-9):
    """Within-cell pairs involving a new row with dot >= threshold.
    Returns (sure, borderline) as sets of (id_a, id_b), id_a < id_b."""
    sure, border = set(), set()
    X = index_vecs.astype(np.float64)
    N = new_vecs.astype(np.float64)
    for c in np.unique(new_cells):
        ni = np.flatnonzero(new_cells == c)
        oi = np.flatnonzero(index_cells == c)
        blocks = []
        if len(oi):
            blocks.append((N[ni] @ X[oi].T, new_ids[ni], index_ids[oi], False))
        blocks.append((N[ni] @ N[ni].T, new_ids[ni], new_ids[ni], True))
        for d, ra, rb, same in blocks:
            ii, jj = np.nonzero(d >= threshold - band)
            for i, j in zip(ii, jj):
                a, b = int(ra[i]), int(rb[j])
                if same and a >= b:
                    continue
                pair = (min(a, b), max(a, b))
                (border if d[i, j] < threshold + band else sure).add(pair)
    return sure, border


def check_pairs(got: set, sure: set, border: set, vec_of, threshold: float,
                planted, cell_of) -> list[str]:
    problems = []
    missing = sure - got
    extra = got - sure - border
    if missing:
        problems.append(f"screen missed {len(missing)} pairs, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"screen returned {len(extra)} pairs below threshold")
    for a, b in got:
        va, vb = vec_of(a).astype(np.float64), vec_of(b).astype(np.float64)
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos < threshold - 1e-6:
            problems.append(f"pair {(a, b)} has cosine {cos:.6f}")
            break
    for dup, twin in planted:
        if cell_of(dup) == cell_of(twin) and (min(dup, twin), max(dup, twin)) not in got:
            problems.append(f"planted duplicate {dup} of {twin} not caught")
            break
    return problems


def check_index(got_ids: np.ndarray, got_cells: np.ndarray, want_ids: set,
                cell_of) -> list[str]:
    problems = []
    if len(got_ids) != len(set(got_ids.tolist())):
        problems.append("index holds a vector twice")
    if set(got_ids.tolist()) != want_ids:
        problems.append(
            f"index ids differ: {len(want_ids - set(got_ids.tolist()))} missing, "
            f"{len(set(got_ids.tolist()) - want_ids)} extra"
        )
    wrong = [int(i) for i, c in zip(got_ids, got_cells) if cell_of(int(i)) != c]
    if wrong:
        problems.append(f"{len(wrong)} vectors in the wrong cell, e.g. {wrong[:3]}")
    return problems


def check_search(rows, index_ids, index_vecs, query_ids, query_vecs,
                 k: int, recall_floor: float) -> tuple[list[str], float]:
    """Exact top-k by numpy over the vectors indexed so far; the ANN
    answer must score every neighbour right and reach the recall floor."""
    problems = []
    X = index_vecs.astype(np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    Q = query_vecs.astype(np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sims = Q @ X.T
    pos = {int(i): n for n, i in enumerate(index_ids)}
    by_q: dict[int, list] = {}
    for q, nb, cos, rnk in rows:
        by_q.setdefault(int(q), []).append((int(rnk), int(nb), float(cos)))
    recalls = []
    for qi, q in enumerate(query_ids):
        got = sorted(by_q.get(int(q), []))
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            problems.append(f"query {q}: ranks {[r for r, _, _ in got]}")
            continue
        exact = set(index_ids[np.argsort(-sims[qi], kind="stable")[:k]].tolist())
        for _r, nb, cos in got:
            if nb not in pos or abs(sims[qi, pos[nb]] - cos) > 1e-9:
                problems.append(f"query {q}: neighbour {nb} scored {cos}")
                break
        if any(got[i][2] < got[i + 1][2] for i in range(k - 1)):
            problems.append(f"query {q}: neighbours out of order")
        recalls.append(len(exact & {nb for _, nb, _ in got}) / k)
    mean = float(np.mean(recalls)) if recalls else 0.0
    if mean < recall_floor:
        problems.append(f"recall@{k} {mean:.3f} below floor {recall_floor}")
    return problems, mean
