"""Seeded inputs for the three workloads, made with numpy and pyarrow only.

Nothing here imports the engine: the inputs are written to disk before
the program is imported, and the same seed always gives the same bytes.
Each generator also returns the in-memory truth the checkers use.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Shapes of the inputs and of the operations over them.  README.md gives
# the recorded shape each one follows.  snapshot_copy has a half-size
# warm-up input set ("warm") beside the measured one ("main").
# ---------------------------------------------------------------------------

SNAPSHOT_WARM_DIVISOR = 2
CDC_ROWS, CDC_WAVES, CDC_WAVE_EVENTS, CDC_COMPACT_EVERY = 150_000, 3, 20_000, 2
VEC_BASE, VEC_WAVE, VEC_QUERIES, VEC_DIM = 20_000, 4_000, 64, 64
VEC_CELLS, VEC_NPROBE, VEC_K, VEC_THRESHOLD = 16, 4, 10, 0.92
VEC_RECALL_FLOOR = 0.80
INPUT_SETS = ("warm", "main")

# ---------------------------------------------------------------------------
# snapshot_copy: three MySQL tables, declared as (name, mysql type, nullable,
# unsigned, precision, scale).  The engine's TableSpec is built from these
# in the workload; the checkers map the same declarations to DuckDB types.
# ---------------------------------------------------------------------------

SNAPSHOT_TABLES: dict[str, dict] = {
    "customers": {
        "pks": ("id",),
        "rows": 185_000,
        "columns": [
            ("id", "int", False, True, None, None),
            ("name", "varchar", False, False, None, None),
            ("email", "varchar", True, False, None, None),
            ("balance", "decimal", False, False, 12, 2),
            ("tier", "tinyint", False, True, None, None),
            ("created_at", "datetime", False, False, None, None),
            ("notes", "text", True, False, None, None),
            ("score", "double", False, False, None, None),
            ("lifetime_value", "bigint", False, True, None, None),
        ],
    },
    "order_lines": {
        "pks": ("order_id", "line_no"),
        "rows": 600_000,
        "columns": [
            ("order_id", "bigint", False, False, None, None),
            ("line_no", "smallint", False, False, None, None),
            ("product_id", "int", False, False, None, None),
            ("qty", "smallint", False, False, None, None),
            ("unit_price", "decimal", False, False, 10, 2),
            ("discount", "float", True, False, None, None),
        ],
    },
    "events_wide": {
        "pks": ("event_id",),
        "rows": 100_000,
        "columns": (
            [("event_id", "bigint", False, False, None, None)]
            + [(f"m{i}", "double", False, False, None, None) for i in range(6)]
            + [(f"c{i}", "int", True, False, None, None) for i in range(4)]
            + [(f"s{i}", "varchar", False, False, None, None) for i in range(4)]
            + [
                ("payload", "json", False, False, None, None),
                ("ts", "datetime", False, False, None, None),
                ("day", "date", False, False, None, None),
                ("flag", "bool", False, False, None, None),
            ]
        ),
    },
}

# the column the PK lookups return beside the key
SNAPSHOT_VALUE_COL = {"customers": "lifetime_value",
                      "order_lines": "unit_price", "events_wide": "m3"}

_EPOCH_2020_US = 1_577_836_800_000_000
_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu".split()
)


def _words(rng: np.random.Generator, n: int, k: int,
           sep: str = " ") -> pa.Array:
    """n strings of k words joined by ``sep``."""
    import pyarrow.compute as pc

    picks = rng.integers(0, len(_WORDS), size=(n, k))
    cols = [pa.array(_WORDS[picks[:, j]]) for j in range(k)]
    return pc.binary_join_element_wise(*cols, sep)


def _nullify(rng, values: pa.Array, share: float) -> pa.Array:
    """``values`` with a random ``share`` of them made null."""
    import pyarrow.compute as pc

    mask = pa.array(rng.random(len(values)) < share)
    return pc.if_else(mask, pa.scalar(None, values.type), values)


def _timestamps(rng, n: int) -> pa.Array:
    """Microsecond timestamps in 2020-2023, no time zone (MySQL DATETIME)."""
    us = pa.array(_EPOCH_2020_US + rng.integers(0, 10**14, n), pa.int64())
    return us.cast(pa.timestamp("us"))


def _scaled_decimal(units: np.ndarray, precision: int, scale: int) -> pa.Array:
    """Exact DECIMAL(precision, scale) whose unscaled values are ``units``
    (a decimal128 value is its unscaled integer, 16 bytes little-endian)."""
    lo = units.astype(np.int64)
    words = np.empty((len(lo), 2), dtype=np.int64)
    words[:, 0] = lo
    words[:, 1] = np.where(lo < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(lo),
        [None, pa.py_buffer(words.tobytes())],
    )


def _snapshot_table(rng: np.random.Generator, name: str, n: int) -> pa.Table:
    import pyarrow.compute as pc

    if name == "customers":
        ids = rng.choice(np.arange(1, 4 * n, dtype=np.uint32), n, replace=False)
        ids[0] = np.uint32(4_000_000_000)  # above the signed int range
        ltv = rng.integers(0, 2**63 - 1, n, dtype=np.int64).astype(np.uint64)
        ltv[::7] += np.uint64(2**63)  # above the signed bigint range
        return pa.table({
            "id": pa.array(ids, pa.uint32()),
            "name": _words(rng, n, 2),
            "email": _nullify(
                rng, pa.array([f"u{i}@example.org" for i in ids]), 0.1),
            "balance": _scaled_decimal(
                rng.integers(-10**9, 10**11, n), 12, 2
            ),
            "tier": pa.array(rng.integers(0, 256, n).astype(np.uint8)),
            "created_at": _timestamps(rng, n),
            "notes": _nullify(rng, _words(rng, n, 12), 0.5),
            "score": pa.array(rng.normal(size=n)),
            "lifetime_value": pa.array(ltv, pa.uint64()),
        })
    if name == "order_lines":
        n_orders = n // 4
        order_ids = rng.choice(
            np.arange(10**12, 10**12 + 8 * n_orders), n_orders, replace=False
        )
        per = rng.integers(1, 8, n_orders)
        oid = np.repeat(order_ids, per)[:n]
        line = np.concatenate([np.arange(1, p + 1) for p in per])[:n]
        oid = np.concatenate([oid, order_ids[-1] + 1 + np.arange(n - len(oid))])
        line = np.concatenate([line, np.ones(n - len(line), dtype=line.dtype)])
        return pa.table({
            "order_id": pa.array(oid.astype(np.int64)),
            "line_no": pa.array(line.astype(np.int16)),
            "product_id": pa.array(rng.integers(1, 50_000, n).astype(np.int32)),
            "qty": pa.array(rng.integers(1, 100, n).astype(np.int16)),
            "unit_price": _scaled_decimal(rng.integers(1, 10**7, n), 10, 2),
            "discount": _nullify(
                rng, pa.array(rng.random(n).astype(np.float32)), 0.3),
        })
    if name == "events_wide":
        ids = rng.permutation(n).astype(np.int64) * 3 + 7
        cols: dict[str, pa.Array] = {"event_id": pa.array(ids)}
        for i in range(6):
            cols[f"m{i}"] = pa.array(rng.normal(size=n) * 10 ** i)
        for i in range(4):
            cols[f"c{i}"] = _nullify(
                rng, pa.array(rng.integers(-10**6, 10**6, n).astype(np.int32)),
                0.15)
        for i in range(4):
            cols[f"s{i}"] = _words(rng, n, 2)
        # {"k": int, "tags": [30 words], "v": float}, built column-wise
        cols["payload"] = pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 10**9, n)), pa.string()),
            ', "tags": ["', _words(rng, n, 30, sep='", "'), '"], "v": ',
            pc.cast(pa.array(rng.random(n)), pa.string()), "}", "",
        )
        cols["ts"] = _timestamps(rng, n)
        cols["day"] = pa.array(
            rng.integers(15_000, 20_000, n).astype(np.int32), pa.date32()
        )
        cols["flag"] = pa.array(rng.random(n) < 0.5)
        return pa.table(cols)
    raise KeyError(name)


@dataclass
class SnapshotInputs:
    source_dir: str
    tables: dict[str, pa.Table]
    # per table: list of ("point", key tuple) / ("range", lo tuple, hi tuple)
    lookups: dict[str, list[tuple]]
    # per table, per lookup: the rows it must return
    lookup_wants: dict[str, list[set]]
    source_bytes: int


def _lookups(rng, name: str, t: pa.Table, n_point: int, n_range: int):
    """PK point and range lookups on a source table and, for each, the
    rows it must return: {(key tuple, value)}.  The keys are unique, so
    a range [lo, hi] holds exactly the rows between them in PK order."""
    import pyarrow.compute as pc

    pks = SNAPSHOT_TABLES[name]["pks"]
    order = pc.sort_indices(t, sort_keys=[(k, "ascending") for k in pks])
    cols = [t.column(k) for k in pks] + [t.column(SNAPSHOT_VALUE_COL[name])]

    def rows(at):
        picked = [c.take(at).to_pylist() for c in cols]
        return [(tuple(r[:-1]), r[-1]) for r in zip(*picked)]

    queries, wants = [], []
    for i in rng.choice(t.num_rows, n_point, replace=False):
        (key, val), = rows([int(i)])
        queries.append(("point", key))
        wants.append({(key, val)})
    for i in rng.choice(t.num_rows - 200, n_range, replace=False):
        span = rows(order[int(i):int(i) + int(rng.integers(20, 200)) + 1])
        queries.append(("range", span[0][0], span[-1][0]))
        wants.append(set(span))
    return queries, wants


def make_snapshot(root: str, seed: int, which: str) -> SnapshotInputs:
    """The measured tables (``which="main"``) or the warm-up tables, an
    independent draw of 1/SNAPSHOT_WARM_DIVISOR of the rows."""
    main = which == "main"
    rng = np.random.default_rng([seed, 1 if main else 4])
    src = os.path.join(root, f"snapshot_{which}")
    tables, lookups, wants, total = {}, {}, {}, 0
    for name, decl in SNAPSHOT_TABLES.items():
        n = decl["rows"] if main else decl["rows"] // SNAPSHOT_WARM_DIVISOR
        t = _snapshot_table(rng, name, n)
        d = os.path.join(src, name)
        os.makedirs(d)
        half = t.num_rows // 2
        for i, part in enumerate((t.slice(0, half), t.slice(half))):
            p = os.path.join(d, f"part-{i}.parquet")
            pq.write_table(part, p, row_group_size=20_000)
            total += os.path.getsize(p)
        tables[name] = t
        lookups[name], wants[name] = _lookups(rng, name, t, n_point=2, n_range=1)
    return SnapshotInputs(src, tables, lookups, wants, total)


# ---------------------------------------------------------------------------
# cdc_upsert: an orders table, its snapshot, and seeded changelog waves.
# ---------------------------------------------------------------------------

CDC_COLUMNS = ("order_id", "customer_id", "status", "amount_cents", "note")
CDC_STATUSES = ("new", "paid", "shipped", "returned", "cancelled")


@dataclass
class CdcInputs:
    snapshot_path: str
    snapshot_rows: dict[int, tuple]
    snapshot_bytes: int
    # per wave: event dicts in delivery order (seq may repeat)
    waves: list[list[dict]]
    # per wave: key set the point-lookup reader query asks for
    probe_keys: list[list[int]]
    # per wave: the wave's JSON-lines files
    wave_files: list[list[str]]


def make_cdc(root: str, seed: int) -> CdcInputs:
    """The orders snapshot and the changelog waves over it.  The
    warm-up round lands the same waves as the timed rounds: the apply
    and read paths keep warming over several waves."""
    n_rows = CDC_ROWS
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(1, n_rows + 1, dtype=np.int64) * 11
    snap = {
        int(i): (int(i), int(c), CDC_STATUSES[int(s)], int(a), None)
        for i, c, s, a in zip(
            ids,
            rng.integers(1, 5_000, n_rows),
            rng.integers(0, 2, n_rows),
            rng.integers(100, 10**6, n_rows),
        )
    }
    path = os.path.join(root, "cdc_snapshot.parquet")
    cols = list(zip(*snap.values()))
    pq.write_table(pa.table({
        "order_id": pa.array(cols[0], pa.int64()),
        "customer_id": pa.array(cols[1], pa.int32()),
        "status": pa.array(cols[2], pa.string()),
        "amount_cents": pa.array(cols[3], pa.int64()),
        "note": pa.array(cols[4], pa.string()),
    }), path)

    waves, probes = _cdc_waves(np.random.default_rng([seed, 6]), ids,
                               CDC_WAVES, CDC_WAVE_EVENTS)
    files = [write_wave_json(events, os.path.join(root, "cdc_waves", f"w{w}"),
                             n_files=2)
             for w, events in enumerate(waves)]
    return CdcInputs(path, snap, os.path.getsize(path), waves, probes, files)


def _cdc_waves(rng, ids: np.ndarray, n_waves: int, wave_events: int):
    n_rows = len(ids)
    live = {int(i) for i in ids}
    deleted: list[int] = []
    next_id = int(ids[-1]) + 11
    seq = 0
    # Zipf-hot keys: rank r is chosen with weight 1/r**1.1
    hot_order = rng.permutation(ids)
    weights = 1.0 / np.arange(1, n_rows + 1) ** 1.1
    weights /= weights.sum()
    waves, probes = [], []
    prev_events: list[dict] = []
    for _w in range(n_waves):
        events: list[dict] = []
        kinds = rng.choice(
            ["U", "D", "R", "I"], wave_events, p=[0.62, 0.12, 0.08, 0.18]
        )
        hot = hot_order[rng.choice(n_rows, wave_events, p=weights)]
        for kind, h in zip(kinds, hot):
            seq += 1
            key = int(h)
            if kind == "D":
                if key not in live:
                    continue
                live.discard(key)
                deleted.append(key)
                events.append({"op": "D", "seq": seq, "order_id": key,
                               "customer_id": None, "status": None,
                               "amount_cents": None, "note": None})
                continue
            if kind == "R" and deleted:
                key = deleted.pop(int(rng.integers(0, len(deleted))))
                op = "I"
            elif kind == "I":
                key, next_id = next_id, next_id + 11
                op = "I"
            else:
                op = "U" if key in live else "I"
            live.add(key)
            events.append({
                "op": op, "seq": seq, "order_id": key,
                "customer_id": int(rng.integers(1, 5_000)),
                "status": CDC_STATUSES[int(rng.integers(0, 5))],
                "amount_cents": int(rng.integers(100, 10**6)),
                "note": None if rng.random() < 0.7 else
                f"n{int(rng.integers(0, 10**6))}",
            })
        # duplicate deliveries: re-sent events from this and the last wave
        n_dup = wave_events // 20
        pool = events + prev_events
        for i in rng.choice(len(pool), n_dup, replace=False):
            events.append(dict(pool[int(i)]))
        prev_events = events
        waves.append(events)
        touched = sorted({e["order_id"] for e in events})
        pick = rng.choice(len(touched), 12, replace=False)
        probes.append(
            sorted({touched[int(i)] for i in pick} | {int(x) for x in hot_order[:4]})
        )
    return waves, probes


def write_wave_json(events: list[dict], staging_dir: str, n_files: int) -> list[str]:
    """Write one wave as ``n_files`` JSON-lines files in ``staging_dir``;
    returns their paths.  A round copies them and renames the copies
    into the watched dir."""
    os.makedirs(staging_dir, exist_ok=True)
    paths = []
    per = -(-len(events) // n_files)
    for i in range(n_files):
        p = os.path.join(staging_dir, f"part-{i:03d}.json")
        with open(p, "w") as fh:
            for e in events[i * per:(i + 1) * per]:
                fh.write(json.dumps(e, separators=(",", ":")))
                fh.write("\n")
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# vector_ingest: unit-norm clustered float32 embeddings, waves with planted
# near-duplicates, and a fixed query batch.
# ---------------------------------------------------------------------------

@dataclass
class VectorInputs:
    dim: int
    base_ids: np.ndarray
    base_vecs: np.ndarray            # float32, unit norm
    wave_ids: list[np.ndarray]
    wave_vecs: list[np.ndarray]
    # per wave: (dup id, twin id) for every planted near-duplicate
    planted: list[list[tuple[int, int]]]
    query_ids: np.ndarray
    query_vecs: np.ndarray
    base_path: str
    wave_paths: list[str]
    query_path: str


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)),
        flat,
    )
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                             "embedding": emb}), path)


def make_vectors(root: str, seed: int, n_clusters: int = 24) -> VectorInputs:
    """The base vectors, the wave every round lands and the query batch."""
    n_base, dim = VEC_BASE, VEC_DIM
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(n_clusters, dim))

    def draw(n):
        c = rng.integers(0, n_clusters, n)
        return _unit(centers[c] + rng.normal(size=(n, dim)))

    base = draw(n_base)
    base_ids = np.arange(n_base, dtype=np.int64)
    wave_ids, wave_vecs, planted = [], [], []
    next_id = n_base
    for wave_size in (VEC_WAVE,):
        ids = next_id + np.arange(wave_size, dtype=np.int64)
        next_id += wave_size
        vecs = draw(wave_size)
        pl = []
        # 5% near-copies of stored base vectors, 2% of earlier rows in the
        # same wave (the later id is the duplicate)
        n_old = wave_size // 20
        slots = rng.choice(np.arange(wave_size // 10, wave_size),
                           n_old + wave_size // 50, replace=False)
        for j, slot in enumerate(slots):
            if j < n_old:
                twin = int(rng.integers(0, n_base))
                src = base[twin]
                twin_id = int(base_ids[twin])
            else:
                t = int(rng.integers(0, wave_size // 10))
                src = vecs[t]
                twin_id = int(ids[t])
            vecs[slot] = _unit(
                (src + rng.normal(size=dim) * 0.02)[None, :]
            )[0]
            pl.append((int(ids[slot]), twin_id))
        wave_ids.append(ids)
        wave_vecs.append(vecs)
        planted.append(pl)
    q_ids = 10**9 + np.arange(VEC_QUERIES, dtype=np.int64)
    q_vecs = draw(VEC_QUERIES)
    base_path = os.path.join(root, "vec_base.parquet")
    _write_vectors(base_path, base_ids, base)
    wave_paths = []
    for w in range(len(wave_ids)):
        p = os.path.join(root, f"vec_wave_{w:02d}.parquet")
        _write_vectors(p, wave_ids[w], wave_vecs[w])
        wave_paths.append(p)
    q_path = os.path.join(root, "vec_queries.parquet")
    _write_vectors(q_path, q_ids, q_vecs)
    return VectorInputs(dim, base_ids, base, wave_ids, wave_vecs, planted,
                        q_ids, q_vecs, base_path, wave_paths, q_path)
