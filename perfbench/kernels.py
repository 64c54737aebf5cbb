"""Single-thread microbenches of the ``sketches`` kernels, in the driver,
over the fact table's own columns and group structure, through the
public sketch methods only."""

from __future__ import annotations

import time

import numpy as np

from datasketches_spark_spark.sketches import (
    ITEM_LONG,
    FreqItemsSketch,
    KllSketch,
    ThetaSketch,
    deserialize_any,
    hash_longs,
)

KLL_K = 200          # the engine's default KLL k
THETA_K = 4096       # the engine's default theta k (cpc lgK 11 + 1)
FREQ_MAP = 1024      # the engine's default freq-items max map size


def _families(fact):
    # (name, make, column, update) as the map side feeds them: KLL takes
    # float64 values, theta pre-hashed longs, freq-items a list of longs
    return [
        ("kll", lambda: KllSketch(k=KLL_K, dtype=np.float32), fact.value,
         lambda sk, v: sk.update_batch(v)),
        ("theta", lambda: ThetaSketch(k=THETA_K), fact.user_id,
         lambda sk, v: sk.update_hashes(hash_longs(v))),
        ("freq", lambda: FreqItemsSketch(max_map_size=FREQ_MAP,
                                         item_type=ITEM_LONG), fact.item,
         lambda sk, v: sk.update_batch(v.tolist())),
    ]


def _estimate(name: str, sk):
    if name == "kll":
        return sk.quantiles([0.5, 0.9, 0.99])
    if name == "theta":
        return sk.estimate()
    return sk.frequent_items()


def microbench(fact) -> dict[str, float]:
    """Per family: update ns/row over every (day, key) group, then the
    median per-call serialize / deserialize / merge / estimate time over
    the group states (merge folds each state into its ``key % 4`` rollup,
    as the rollup queries do). Also the total kernel seconds of one
    ingest op's worth of updates + serializes."""
    gid = fact.day.astype(np.int64) * (int(fact.key.max()) + 1) + fact.key
    order = np.argsort(gid, kind="stable")
    cuts = np.flatnonzero(np.diff(gid[order])) + 1
    groups = np.split(order, cuts)
    out: dict[str, float] = {}
    kernel_s = 0.0
    for name, make, col, update in _families(fact):
        sketches = []
        t0 = time.perf_counter()
        for idx in groups:
            sk = make()
            update(sk, col[idx])
            sketches.append(sk)
        upd = time.perf_counter() - t0
        ser, des, mer, est = [], [], [], []
        states = []
        for sk in sketches:
            t = time.perf_counter()
            b = sk.serialize()
            ser.append(time.perf_counter() - t)
            states.append(b)
        rollups: dict[int, object] = {}
        for idx, b in zip(groups, states):
            t = time.perf_counter()
            sk = deserialize_any(b)
            des.append(time.perf_counter() - t)
            r = int(fact.key[idx[0]]) % 4
            if r not in rollups:
                rollups[r] = sk
                continue
            t = time.perf_counter()
            rollups[r].merge(sk)
            mer.append(time.perf_counter() - t)
        for sk in rollups.values():
            t = time.perf_counter()
            _estimate(name, sk)
            est.append(time.perf_counter() - t)
        out[f"sketches.{name}.update_ns_per_row"] = upd / fact.rows * 1e9
        out[f"sketches.{name}.serialize_us"] = float(np.median(ser)) * 1e6
        out[f"sketches.{name}.deserialize_us"] = float(np.median(des)) * 1e6
        out[f"sketches.{name}.merge_us"] = float(np.median(mer)) * 1e6
        out[f"sketches.{name}.estimate_us"] = float(np.median(est)) * 1e6
        kernel_s += upd + float(np.sum(ser))
    out["kernel_s"] = kernel_s
    return out
