#!/usr/bin/env python3
"""Self-test of the checkers: each must pass a right answer and fail a
corrupted one (a dropped row, a resurrected tombstone, a wrong
neighbour, ...).  Needs no Spark; runs in a few seconds.

    python3 syncbench/selftest.py

Also checks that BENCHMARK.json names exactly the metrics run.py prints.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, problems: list[str], should_fail: bool) -> None:
    ok = bool(problems) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {problems[:1] if problems else 'no problems'}")
    if not ok:
        FAILURES.append(name)


def _target_of(t: pa.Table, decl: dict) -> pa.Table:
    """What a right copy looks like: declared types, sorted by PK."""
    cast = {"id": pa.int64(), "tier": pa.int16(),
            "lifetime_value": pa.decimal128(20, 0)}
    cols = {n: (pc.cast(t.column(n), cast[n]) if n in cast else t.column(n))
            for n in t.column_names}
    out = pa.table(cols)
    return out.take(pc.sort_indices(out, [(k, "ascending") for k in decl["pks"]]))


def snapshot_tests(tmp: str) -> None:
    import duckdb

    decl = gen.SNAPSHOT_TABLES["customers"]
    t = gen._snapshot_table(np.random.default_rng(7), "customers", 400)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    pq.write_table(t, os.path.join(src, "part-0.parquet"))
    con = duckdb.connect()
    right = _target_of(t, decl)

    def target(name: str, table: pa.Table) -> str:
        d = os.path.join(tmp, name)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        return d

    expect("snapshot right copy",
           checks.check_snapshot_table(con, src, target("ok", right), decl), False)
    expect("snapshot dropped row",
           checks.check_snapshot_table(
               con, src, target("drop", right.slice(1)), decl), True)
    changed = right.set_column(
        right.column_names.index("score"), "score",
        pa.array([0.5] + right.column("score").to_pylist()[1:]))
    expect("snapshot changed value",
           checks.check_snapshot_table(con, src, target("chg", changed), decl), True)
    expect("snapshot file out of PK order",
           checks.check_snapshot_table(
               con, src, target("order", right.take(pa.array(
                   np.arange(right.num_rows)[::-1]))), decl), True)
    expect("snapshot undeclared type",
           checks.check_snapshot_table(
               con, src, target("type", right.set_column(
                   0, "id", pc.cast(right.column("id"), pa.uint32()))), decl), True)

    queries, wants = gen._lookups(np.random.default_rng(8), "customers", t, 1, 1)
    want = wants[1]
    lo, hi = queries[1][1], queries[1][2]
    expect("lookup truth is the key range",
           [] if want == {(k, v) for k, v in zip(
               zip(t.column("id").to_pylist()),
               t.column("lifetime_value").to_pylist()) if lo <= k <= hi}
           else ["range truth differs"], False)
    expect("lookup right", checks.check_lookup(set(want), want), False)
    expect("lookup dropped row",
           checks.check_lookup(set(list(want)[1:]), want), True)


def cdc_tests() -> None:
    cols = gen.CDC_COLUMNS
    snap = {1: (1, 10, "new", 100, None), 2: (2, 20, "new", 200, None)}

    def ev(op, seq, k, amount=0):
        return {"op": op, "seq": seq, "order_id": k, "customer_id": 1,
                "status": None if op == "D" else "paid",
                "amount_cents": None if op == "D" else amount, "note": None}

    waves = [
        [ev("U", 1, 1, 111), ev("D", 2, 2), ev("D", 2, 2), ev("I", 3, 3, 333)],
        [ev("U", 1, 1, 111), ev("U", 4, 3, 334), ev("I", 5, 2, 555)],
    ]
    live = checks.replay(snap, waves, cols)
    expect("replay after wave 0",
           [] if live[0] == {1: (1, 1, "paid", 111, None),
                             3: (3, 1, "paid", 333, None)} else [str(live[0])],
           False)
    expect("replay after wave 1",
           [] if live[1] == {1: (1, 1, "paid", 111, None),
                             2: (2, 1, "paid", 555, None),
                             3: (3, 1, "paid", 334, None)} else [str(live[1])],
           False)
    want = checks.expected_reads(live[0], [1, 2, 3])
    expect("live count right", checks.check_read("count", 2, want), False)
    expect("live count with a resurrected tombstone",
           checks.check_read("count", 3, want), True)
    expect("live point with a resurrected tombstone",
           checks.check_read("point", want["point"] | {snap[2]}, want), True)
    expect("live by_status right",
           checks.check_read("by_status", {"paid": (2, 444)}, want), False)
    expect("live by_status with an old version",
           checks.check_read("by_status", {"paid": (1, 333), "new": (1, 100)},
                             want), True)


def vector_tests() -> None:
    rng = np.random.default_rng(3)
    dim, t = 8, 0.95
    cents = rng.normal(size=(4, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    base = gen._unit(rng.normal(size=(300, dim)))
    base_ids = np.arange(300, dtype=np.int64)
    new = gen._unit(rng.normal(size=(40, dim)))
    new_ids = 1000 + np.arange(40, dtype=np.int64)
    planted = []
    for slot, twin in ((5, 17), (9, 250), (30, 123)):
        new[slot] = gen._unit((base[twin] + rng.normal(size=dim) * 0.01)[None])[0]
        planted.append((int(new_ids[slot]), twin))
    ids = np.concatenate([base_ids, new_ids])
    vecs = np.concatenate([base, new])
    cells = checks.assign_cells(vecs, cents)
    cell_of = dict(zip(ids.tolist(), cells.tolist())).__getitem__
    vec_of = dict(zip(ids.tolist(), vecs)).__getitem__
    sure, border = checks.expected_pairs(base_ids, base, cells[:300],
                                         new_ids, new, cells[300:], t)
    caught = {(min(a, b), max(a, b)) for a, b in planted
              if cell_of(a) == cell_of(b)}
    expect("planted duplicates are found by the truth",
           [] if caught and caught <= sure else ["truth misses a plant"], False)
    expect("screen right", checks.check_pairs(
        set(sure), sure, border, vec_of, t, planted, cell_of), False)
    expect("screen missed a planted duplicate", checks.check_pairs(
        set(sure) - {next(iter(caught))}, sure, border, vec_of, t, planted,
        cell_of), True)
    expect("screen pair below threshold", checks.check_pairs(
        set(sure) | {(0, 1)}, sure, border, vec_of, t, planted, cell_of), True)

    expect("index right", checks.check_index(ids, cells, set(ids.tolist()),
                                             cell_of), False)
    expect("index lost a vector", checks.check_index(
        ids[1:], cells[1:], set(ids.tolist()), cell_of), True)
    wrong_cells = cells.copy()
    wrong_cells[3] = (wrong_cells[3] + 1) % 4
    expect("index vector in the wrong cell", checks.check_index(
        ids, wrong_cells, set(ids.tolist()), cell_of), True)

    q = gen._unit(rng.normal(size=(5, dim)))
    q_ids = 10**9 + np.arange(5, dtype=np.int64)
    xn = vecs.astype(np.float64)
    xn /= np.linalg.norm(xn, axis=1, keepdims=True)
    qn = q.astype(np.float64)
    qn /= np.linalg.norm(qn, axis=1, keepdims=True)
    sims = qn @ xn.T
    k = 5
    rows = []
    for i, qid in enumerate(q_ids):
        for r, j in enumerate(np.argsort(-sims[i], kind="stable")[:k]):
            rows.append((int(qid), int(ids[j]), float(sims[i, j]), r + 1))
    expect("search right", checks.check_search(rows, ids, vecs, q_ids, q, k, 1.0)[0], False)
    # a wrong neighbour, scored consistently: recall drops below the floor
    worst = int(np.argmin(sims[0]))
    bad = list(rows)
    bad[k - 1] = (bad[k - 1][0], int(ids[worst]), float(sims[0, worst]), k)
    expect("search wrong neighbour", checks.check_search(bad, ids, vecs, q_ids, q, k, 1.0)[0], True)
    bad2 = list(rows)
    bad2[0] = (bad2[0][0], bad2[0][1], bad2[0][2] + 0.01, 1)
    expect("search neighbour mis-scored", checks.check_search(bad2, ids, vecs, q_ids, q, k, 0.0)[0], True)


def benchmark_json_tests() -> None:
    import run
    from spans import PHASES

    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    expect("BENCHMARK.json end_to_end matches run.py",
           [] if e2e == list(run.END_TO_END) else [str(e2e)], False)
    expect("BENCHMARK.json per_layer matches run.py",
           [] if layer == run.per_layer_names() else ["per_layer differs"], False)
    expect("nine Spark phases", [] if len(PHASES) == 9 else [str(PHASES)], False)


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        snapshot_tests(tmp)
    cdc_tests()
    vector_tests()
    benchmark_json_tests()
    print("ALL PASS" if not FAILURES else f"FAILED: {FAILURES}")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
