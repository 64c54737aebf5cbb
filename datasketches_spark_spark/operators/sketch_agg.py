"""Two-phase sketch aggregation — the engine's scale path.

The reference's ``TypedImperativeAggregate`` gets partial/final aggregation
from Spark's JVM planner for free (``quantileSketches.scala:234-273``:
partial sketches per executor, serialized at the shuffle boundary, merged in
the final stage). A plain ``GROUPED_AGG`` pandas UDF cannot do that — Spark
shuffles *raw rows* to the aggregating task. At 100 TB that difference is
the whole game: shuffling ~KB sketch states per (partition x group) instead
of the raw column.

This module reproduces the reference's physics explicitly:

  phase 1 (map-side)   ``mapInPandas``: stream each input partition once,
                        maintain one live sketch per group key, emit
                        ``(keys..., state: binary)`` — one row per group per
                        partition;
  phase 2 (reduce-side) ``repartition(keys)`` + ``sortWithinPartitions``:
                        shuffle only the small states, then ONE
                        ``mapInPandas`` pass per partition merges each
                        contiguous group with the ``states`` family
                        (:func:`_merge_states`) — Python is entered once
                        per Arrow batch, not once per group per measure.

The output of ``sketch_accumulate`` is a re-aggregable summary table exactly
like the reference's accumulate results (``README.md:68-100``): filter it,
re-combine subsets, and ``*_estimate`` the merged states without rescanning
raw data.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegralType,
    StructField,
    StructType,
)

from .. import conf
from ..sketches import (
    ITEM_DOUBLE,
    ITEM_LONG,
    ITEM_STR,
    FreqItemsSketch,
    HllSketch,
    ReservoirSketch,
    ThetaSketch,
    TupleSketch,
    WeightedReservoirSketch,
    deserialize_any,
    hash_series,
    make_quantile_sketch,
)

_QUANTILE_DTYPES = {"KLL": np.float32, "REQ": np.float32, "MERGEABLE": np.float64}


# --------------------------------------------------------------------- families

class _Family:
    """Per-family kernel: ``prep`` runs ONCE per Arrow batch (vectorized
    cleaning/hashing of the whole column), ``update`` folds a numpy
    position slice of the prepped batch into one sketch. This split is what
    makes many-tiny-groups workloads fast: per-group work is a numpy slice
    + one sketch call, with no per-group pandas Series construction."""

    __slots__ = ("make", "prep", "update")

    def __init__(self, make, prep, update):
        self.make = make
        self.prep = prep
        self.update = update

    def update_series(self, sk, values: pd.Series) -> None:
        ctx = self.prep(values)
        self.update(sk, ctx, None)


def _quantile_family(impl: str | None, k: int | None) -> _Family:
    impl = (impl or conf.quantile_impl()).upper()
    k = k or conf.quantile_k(impl)
    dtype = _QUANTILE_DTYPES[impl]

    def prep(values: pd.Series):
        # keep NaNs in place (update_batch drops them) so positions align
        return pd.to_numeric(values, errors="coerce").to_numpy(np.float64)

    def update(sk, arr, idx):
        sk.update_batch(arr if idx is None else arr[idx])

    return _Family(lambda: make_quantile_sketch(impl, k, dtype), prep, update)


def _freq_family(item_type: str, max_map_size: int | None) -> _Family:
    m = max_map_size or conf.freq_max_map_size()

    if item_type == ITEM_LONG:
        def prep(values: pd.Series):
            arr = pd.to_numeric(values, errors="coerce")
            mask = arr.notna().to_numpy()
            ints = arr.fillna(0).to_numpy(np.int64)
            return ints, mask
    else:
        def prep(values: pd.Series):
            # null-independent string rendering: a nullable bigint
            # batch crosses Arrow as float64, and str() would emit
            # '1.0'-style items in exactly the batches holding a null
            from ..functions.udfs import _wire_strings
            mask = values.notna().to_numpy()
            out = np.empty(len(values), object)
            if mask.any():
                out[mask] = np.asarray(_wire_strings(values[mask]),
                                       dtype=object)
            return out, mask

    def update(sk, ctx, idx):
        vals, mask = ctx
        if idx is not None:
            vals, mask = vals[idx], mask[idx]
        items = vals[mask]
        if items.size:
            sk.update_batch(items.tolist())

    return _Family(lambda: FreqItemsSketch(max_map_size=m,
                                           item_type=item_type), prep, update)


def _hashed_prep(values: pd.Series):
    """Whole-batch vectorized hashing with NaN-position mask (theta/hll)."""
    mask = values.notna().to_numpy()
    hashes = np.zeros(len(values), dtype=np.uint64)
    if mask.any():
        hashes[mask] = hash_series(values[mask])
    return hashes, mask


def _hashed_update(sk, ctx, idx):
    hashes, mask = ctx
    if idx is not None:
        hashes, mask = hashes[idx], mask[idx]
    h = hashes[mask]
    if h.size:
        sk.update_hashes(h)


def _theta_family(k: int | None) -> _Family:
    k = k or conf.distinct_theta_k()
    return _Family(lambda: ThetaSketch(k=k), _hashed_prep, _hashed_update)


def _hll_family(lgk: int | None) -> _Family:
    lgk = lgk or conf.distinct_hll_lgk()
    return _Family(lambda: HllSketch(lgk=lgk), _hashed_prep, _hashed_update)


def _bloomwire_family(expected: int | None, fpp: float | None,
                      seed: int, item_type: str) -> _Family:
    """DataSketches BloomFilter WIRE family (compat/bloomwire.py):
    partials are genuine family-21 images; the declared ``item_type``
    picks the hash path (longs as 8-byte LE / strings as UTF-8 — the
    Java update() overload rule). Rendering goes through the shared
    wire helpers so state content is independent of which Arrow batch
    a null lands in (a nullable bigint batch crosses as float64)."""
    from ..compat.bloomwire import DsBloomFilter
    from ..functions.udfs import _wire_longs, _wire_strings
    expected = expected or conf.membership_expected()
    fpp = fpp if fpp is not None else conf.membership_fpp()

    if item_type == ITEM_LONG:
        def prep(values: pd.Series):
            mask = values.notna().to_numpy()
            out = np.zeros(len(values), np.int64)
            if mask.any():
                out[mask] = _wire_longs(values[mask])
            return out, mask

        def update(sk, ctx, idx):
            vals, mask = ctx
            if idx is not None:
                vals, mask = vals[idx], mask[idx]
            items = vals[mask]
            if items.size:
                sk.update_longs(items)
    else:
        def prep(values: pd.Series):
            mask = values.notna().to_numpy()
            out = np.empty(len(values), object)
            if mask.any():
                out[mask] = np.asarray(_wire_strings(values[mask]),
                                       dtype=object)
            return out, mask

        def update(sk, ctx, idx):
            vals, mask = ctx
            if idx is not None:
                vals, mask = vals[idx], mask[idx]
            items = vals[mask]
            if items.size:
                sk.update_strings(items.tolist())

    return _Family(lambda: DsBloomFilter.design(expected, fpp, seed),
                   prep, update)


def _bloom_family(expected: int | None, fpp: float | None) -> _Family:
    """Bloom membership family — same hashed kernel as theta/hll (the
    shared 64-bit hash space); geometry fixed by the design point so
    every partial in one aggregation merges bit-exactly."""
    from ..sketches import BloomFilter
    expected = expected or conf.membership_expected()
    fpp = fpp if fpp is not None else conf.membership_fpp()
    return _Family(lambda: BloomFilter.design(expected, fpp),
                   _hashed_prep, _hashed_update)


def _cpcwire_family(lgk: int | None, item_type: str) -> _Family:
    """Genuine-CPC family: partials are CPC WIRE bytes (CpcAccumulator
    serializes to the Apache DataSketches format), merged via the
    family-16 byte-sniff like any foreign CPC state. Long columns hash
    vectorized; strings hash per item once per Arrow batch."""
    from ..sketches.cpc_state import CpcAccumulator
    from ..sketches.murmur3 import hash128_bytes, hash128_longs
    lgk = lgk or conf.distinct_cpc_wire_lgk()

    if item_type == ITEM_LONG:
        def prep(values: pd.Series):
            mask = values.notna().to_numpy()
            h1 = np.zeros(len(values), np.uint64)
            h2 = np.zeros(len(values), np.uint64)
            if mask.any():
                arr = pd.to_numeric(values[mask]).to_numpy(np.int64)
                h1[mask], h2[mask] = hash128_longs(arr)
            return h1, h2, mask
    else:
        def prep(values: pd.Series):
            from ..functions.udfs import _wire_strings
            mask = (values.notna() & (values != "")).to_numpy()
            h1 = np.zeros(len(values), np.uint64)
            h2 = np.zeros(len(values), np.uint64)
            if mask.any():
                enc = [s.encode("utf-8")
                       for s in _wire_strings(values[mask])]
                h1[mask], h2[mask] = hash128_bytes(enc)
            return h1, h2, mask

    def update(sk, ctx, idx):
        h1, h2, mask = ctx
        if idx is not None:
            h1, h2, mask = h1[idx], h2[idx], mask[idx]
        if mask.any():
            sk.update_hashes128(h1[mask], h2[mask])

    return _Family(lambda: CpcAccumulator(lgk), prep, update)


def _thetawire_family(k: int | None, item_type: str) -> _Family:
    """Genuine DataSketches compact-Theta family: partials are family-3
    wire bytes, merged via the byte-sniff (``compat/theta.py``)."""
    from ..compat.theta import ThetaWireAccumulator
    from ..sketches.murmur3 import hash128_bytes, hash128_longs
    k = k or conf.distinct_theta_k()

    if item_type == ITEM_LONG:
        def prep(values: pd.Series):
            mask = values.notna().to_numpy()
            h = np.zeros(len(values), np.uint64)
            if mask.any():
                arr = pd.to_numeric(values[mask]).to_numpy(np.int64)
                h[mask] = hash128_longs(arr)[0]
            return h, mask
    else:
        def prep(values: pd.Series):
            from ..functions.udfs import _wire_strings
            mask = (values.notna() & (values != "")).to_numpy()
            h = np.zeros(len(values), np.uint64)
            if mask.any():
                enc = [s.encode("utf-8")
                       for s in _wire_strings(values[mask])]
                h[mask] = hash128_bytes(enc)[0]
            return h, mask

    def update(sk, ctx, idx):
        h, mask = ctx
        if idx is not None:
            h, mask = h[idx], mask[idx]
        if mask.any():
            sk._fold(h[mask].copy())

    return _Family(lambda: ThetaWireAccumulator(k), prep, update)


def _reservoir_family(k: int | None, item_type: str) -> _Family:
    k = k or conf.sample_reservoir_k()

    if item_type == ITEM_STR:
        def prep(values: pd.Series):
            from ..functions.udfs import _wire_strings
            mask = values.notna().to_numpy()
            out = np.empty(len(values), object)
            if mask.any():
                out[mask] = np.asarray(_wire_strings(values[mask]),
                                       dtype=object)
            return out, mask
    elif item_type == ITEM_LONG:
        def prep(values: pd.Series):
            arr = pd.to_numeric(values, errors="coerce")
            mask = arr.notna().to_numpy()
            return arr.fillna(0).to_numpy(np.int64), mask
    else:
        def prep(values: pd.Series):
            arr = pd.to_numeric(values, errors="coerce").to_numpy(np.float64)
            return arr, ~np.isnan(arr)

    def update(sk, ctx, idx):
        vals, mask = ctx
        if idx is not None:
            vals, mask = vals[idx], mask[idx]
        items = vals[mask]
        if items.size:
            sk.update_batch(items)

    return _Family(lambda: ReservoirSketch(k=k, item_type=item_type),
                   prep, update)


def _wreservoir_family(k: int | None, item_type: str) -> _Family:
    """Two-column family: measure col is (value_col, weight_col); prep
    receives the two-column pandas sub-frame."""
    k = k or conf.sample_reservoir_k()

    def prep(pdf: pd.DataFrame):
        vcol, wcol = pdf.columns[0], pdf.columns[1]
        w = pd.to_numeric(pdf[wcol], errors="coerce").to_numpy(np.float64)
        if item_type == ITEM_STR:
            from ..functions.udfs import _wire_strings
            mask = pdf[vcol].notna().to_numpy()
            vals = np.empty(len(pdf), object)
            if mask.any():
                vals[mask] = np.asarray(_wire_strings(pdf[vcol][mask]),
                                        dtype=object)
        elif item_type == ITEM_LONG:
            arr = pd.to_numeric(pdf[vcol], errors="coerce")
            mask = arr.notna().to_numpy()
            vals = arr.fillna(0).to_numpy(np.int64)
        else:
            vals = pd.to_numeric(pdf[vcol], errors="coerce") \
                     .to_numpy(np.float64)
            mask = ~np.isnan(vals)
        return vals, w, mask

    def update(sk, ctx, idx):
        vals, w, mask = ctx
        if idx is not None:
            vals, w, mask = vals[idx], w[idx], mask[idx]
        if mask.any():
            sk.update_batch(vals[mask], w[mask])

    return _Family(lambda: WeightedReservoirSketch(k=k, item_type=item_type),
                   prep, update)


def _aodwire_family(k: int | None, item_type: str) -> _Family:
    """Genuine DataSketches Tuple/ArrayOfDoubles family (two-column:
    measure col is (key_col, value_col)): partials are family-9 wire
    bytes with [1, x] summaries -> per-key (count, sum), readable by
    datasketches-java; merged via the byte-sniff union
    (``compat/aod.py``)."""
    from ..compat.aod import AodWireAccumulator
    k = k or conf.tuple_k()

    def prep(pdf: pd.DataFrame):
        kcol, vcol = pdf.columns[0], pdf.columns[1]
        mask = pdf[kcol].notna().to_numpy()
        keys = pdf[kcol].to_numpy()
        vals = pd.to_numeric(pdf[vcol], errors="coerce") \
            .fillna(0.0).to_numpy(np.float64)
        return keys, vals, mask

    def update(sk, ctx, idx):
        keys, vals, mask = ctx
        if idx is not None:
            keys, vals, mask = keys[idx], vals[idx], mask[idx]
        if not mask.any():
            return
        kv, vv = keys[mask], vals[mask]
        from ..functions.udfs import _wire_longs, _wire_strings
        if item_type == ITEM_LONG:
            sk.update_longs(_wire_longs(pd.Series(kv)), vv)
        else:
            sk.update_strings(_wire_strings(pd.Series(kv)), vv)

    return _Family(lambda: AodWireAccumulator(k), prep, update)


def _tuple_family(k: int | None) -> _Family:
    """Two-column family: measure col is (key_col, value_col). Null-key
    rows drop; null values count their row with 0.0 (tuple_acc_udf
    semantics). Hashing is the theta dispatch, whole-batch vectorized."""
    k = k or conf.tuple_k()

    def prep(pdf: pd.DataFrame):
        kcol, vcol = pdf.columns[0], pdf.columns[1]
        mask = pdf[kcol].notna().to_numpy()
        hashes = np.zeros(len(pdf), np.uint64)
        if mask.any():
            hashes[mask] = hash_series(pdf[kcol][mask])
        vals = pd.to_numeric(pdf[vcol], errors="coerce") \
            .fillna(0.0).to_numpy(np.float64)
        return hashes, vals, mask

    def update(sk, ctx, idx):
        h, v, mask = ctx
        if idx is not None:
            h, v, mask = h[idx], v[idx], mask[idx]
        if mask.any():
            sk.update_batch(h[mask], v[mask])

    return _Family(lambda: TupleSketch(k=k), prep, update)


class _StateMerger:
    """Folds pre-serialized sketch states — the ``*_combine`` verb as a
    partial-capable kernel. Family-agnostic like :func:`combine_udf`
    (byte-sniff dispatch), so one kernel serves every state the engine or a
    foreign DataSketches writer produces. Exists so dss.sql can re-plan
    ``*_estimate(*_combine(state))`` as map-side partial merges + a
    state-only shuffle instead of the raw-row GROUPED_AGG fallback."""

    __slots__ = ("sk",)

    def __init__(self):
        self.sk = None

    def merge_blob(self, blob) -> None:
        sk = deserialize_any(bytes(blob))  # raises on corrupt input
        self.sk = sk if self.sk is None else self.sk.merge(sk)

    def serialize(self):
        return None if self.sk is None else self.sk.serialize()


def _states_family() -> _Family:
    def prep(values: pd.Series):
        mask = values.notna().to_numpy()
        return values.to_numpy(object), mask

    def update(sk, ctx, idx):
        vals, mask = ctx
        if idx is not None:
            vals, mask = vals[idx], mask[idx]
        for blob in vals[mask]:
            sk.merge_blob(blob)

    return _Family(_StateMerger, prep, update)


def _family(name: str, **params) -> _Family:
    if name in ("quantile", "kll", "req", "mergeable"):
        impl = None if name == "quantile" else name.upper()
        return _quantile_family(params.get("impl", impl), params.get("k"))
    if name in ("freq", "freqitems"):
        return _freq_family(params.get("item_type", ITEM_STR),
                            params.get("max_map_size"))
    if name in ("theta", "cpc", "distinct"):
        return _theta_family(params.get("k"))
    if name == "hll":
        return _hll_family(params.get("lgk"))
    if name == "cpcwire":
        return _cpcwire_family(params.get("lgk"),
                               params.get("item_type", ITEM_STR))
    if name == "thetawire":
        return _thetawire_family(params.get("k"),
                                 params.get("item_type", ITEM_STR))
    if name in ("reservoir", "sample"):
        return _reservoir_family(params.get("k"),
                                 params.get("item_type", ITEM_DOUBLE))
    if name in ("wreservoir", "weighted_sample"):
        return _wreservoir_family(params.get("k"),
                                  params.get("item_type", ITEM_DOUBLE))
    if name == "states":
        return _states_family()
    if name == "tuple":
        return _tuple_family(params.get("k"))
    if name in ("aodwire", "tuplewire"):
        return _aodwire_family(params.get("k"),
                               params.get("item_type", ITEM_STR))
    if name in ("bloom", "membership"):
        return _bloom_family(params.get("expected_items"),
                             params.get("fpp"))
    if name == "bloomwire":
        return _bloomwire_family(params.get("expected_items"),
                                 params.get("fpp"),
                                 params.get("seed", 0),
                                 params.get("item_type", ITEM_STR))
    raise ValueError(f"unknown sketch family {name!r}")


# --------------------------------------------------------------------- operator

def _hashable(v):
    if isinstance(v, dict):
        return tuple(_hashable(x) for x in v.values())
    if isinstance(v, (list, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    return v


def _iter_groups(pdf: pd.DataFrame, keys: list[str]):
    """Yield (hashable_key, original_key_tuple, positions) per group.
    Fast path: C-computed groupby().indices. Fallback for unhashable key
    values (a window/struct key arrives in pandas as a dict — the reference
    supports groupBy(window(...)) so we must too): a per-row python loop
    keyed on a hashable rendering, emitting the original values."""
    try:
        # .indices builds the full dict eagerly; materialize before any
        # yield so a TypeError can never leave groups half-processed
        items = list(pdf.groupby(keys, dropna=False, sort=False)
                     .indices.items())
    except TypeError:
        cols = [pdf[k].tolist() for k in keys]
        groups: dict = {}
        originals: dict = {}
        for pos, row in enumerate(zip(*cols)):
            hk = tuple(_hashable(v) for v in row)
            groups.setdefault(hk, []).append(pos)
            if hk not in originals:
                originals[hk] = row
        for hk, poss in groups.items():
            yield hk, originals[hk], np.asarray(poss)
        return
    for kv, idx in items:
        kv = kv if isinstance(kv, tuple) else (kv,)
        yield kv, kv, idx



def sketch_partial(df: DataFrame, keys: list[str], col: str,
                   family: str, state_col: str = "state",
                   max_groups: int = 100_000,
                   **params) -> DataFrame:
    """Phase 1: partition-local sketching. One output row per (partition,
    group); no shuffle. Input is pruned to ``keys + [col]`` so the parquet
    scan reads only those columns.

    ``max_groups`` bounds executor memory for high-cardinality group keys
    (e.g. ``user_id`` at 100 TB): when a partition has accumulated that many
    live sketches, their states are flushed downstream and the dict resets.
    Correctness is unaffected — phase 2 re-merges all partial states for a
    key; the cost is only extra (still state-sized, not raw-sized) shuffle
    rows on pathological key distributions."""
    fam = _family(family, **params)
    in_cols = list(col) if isinstance(col, tuple) else [col]
    src = df.select(*keys, *in_cols)
    fields = [src.schema[k] for k in keys]
    out_schema = StructType(fields + [StructField(state_col, BinaryType())])

    def flush(sketches: dict, originals: dict) -> pd.DataFrame:
        rows = {k: [originals[hk][i] for hk in sketches]
                for i, k in enumerate(keys)}
        rows[state_col] = [sk.serialize() for sk in sketches.values()]
        return pd.DataFrame(rows)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict = {}
        originals: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if not keys:
                sk = sketches.get(())
                if sk is None:
                    sk = sketches[()] = fam.make()
                    originals[()] = ()
                fam.update_series(sk, pdf[in_cols] if len(in_cols) > 1
                                  else pdf[col])
                continue
            # prep the whole batch column once (vectorized); per group only
            # a numpy position slice + one sketch call
            ctx = fam.prep(pdf[in_cols] if len(in_cols) > 1 else pdf[col])
            for hk, kv, idx in _iter_groups(pdf, keys):
                sk = sketches.get(hk)
                if sk is None:
                    sk = sketches[hk] = fam.make()
                    originals[hk] = kv
                fam.update(sk, ctx, idx)
            if len(sketches) >= max_groups:
                yield flush(sketches, originals)
                sketches, originals = {}, {}
        if sketches:
            yield flush(sketches, originals)

    return src.mapInPandas(build, out_schema)


class Measure:
    """One sketched aggregate in a :func:`sketch_grouped_agg` call: which
    column to sketch, with which family/params, and how to turn the merged
    state into the output column."""

    __slots__ = ("name", "col", "family", "params", "estimator",
                 "preserve_type", "multi")

    def __init__(self, name: str, col: str, family: str, estimator, **params):
        self.name = name
        self.col = col
        self.family = family
        self.params = params
        self.estimator = estimator  # Column(state) -> Column(result)
        self.preserve_type = False  # cast result back to input column type
        self.multi = False          # result is an array (multi-percentage)


def percentile_measure(name: str, col: str, percentage,
                       impl: str | None = None, k: int | None = None,
                       preserve_type: bool = False) -> Measure:
    """``preserve_type=True`` reproduces the reference's direct-aggregate
    output typing: the estimate is cast back to the input column's type,
    incl. Decimal (``quantileSketches.scala:196-211``; type matrix test
    ``ApproximateQuerySuite.scala:52-65``). The estimate-from-state path
    stays double, like the reference's (``:601-605``)."""
    from ..functions.quantiles import approx_percentile_estimate
    m = Measure(name, col, "quantile",
                lambda c: approx_percentile_estimate(c, percentage),
                impl=impl, k=k)
    m.preserve_type = preserve_type
    m.multi = isinstance(percentage, (list, tuple))
    return m


def freqitems_measure(name: str, col: str, item_type: str = "string",
                      max_map_size: int | None = None) -> Measure:
    from ..functions.freqitems import approx_freqitems_estimate
    it = ITEM_LONG if item_type in ("long", "int") else ITEM_STR
    return Measure(name, col, "freq",
                   lambda c: approx_freqitems_estimate(c, item_type=item_type),
                   item_type=it, max_map_size=max_map_size)


def distinct_measure(name: str, col: str, k: int | None = None,
                     impl: str = "theta", lgk: int | None = None) -> Measure:
    """``impl="theta"`` (default): KMV — exact below k, 8 B/entry states,
    the family the set algebra operates on. ``impl="hll"``: the engine's
    numpy HLL — exact through its sparse phase, then CPC-class accuracy in
    a bounded 2^lgk-byte state; the right choice when per-group NDV is
    huge and summary-table size matters (this is what serves the CPC name,
    at ``conf.distinct_cpc_lgk()``)."""
    from ..functions.distinctcnt import approx_count_distinct_estimate
    if impl == "hll":
        return Measure(name, col, "hll",
                       lambda c: approx_count_distinct_estimate(c), lgk=lgk)
    return Measure(name, col, "theta",
                   lambda c: approx_count_distinct_estimate(c), k=k)


def sample_measure(name: str, col: str, k: int | None = None,
                   item_type: str = "double") -> Measure:
    """Uniform per-group reservoir sample (``sketches/reservoir.py``).
    Exact (returns the complete sorted multiset) while group size <= k;
    beyond that, a uniform k-sample. Output is a sorted array column."""
    from ..functions.sampling import approx_sample_estimate
    it = (ITEM_LONG if item_type in ("long", "int")
          else ITEM_STR if item_type in ("str", "string") else ITEM_DOUBLE)
    return Measure(name, col, "reservoir",
                   lambda c: approx_sample_estimate(c, item_type=item_type),
                   k=k, item_type=it)


def _measure_input(pdf: pd.DataFrame, m: Measure):
    """A measure's batch input: one Series, or the two-column sub-frame
    for (value, weight) measures."""
    return pdf[list(m.col)] if isinstance(m.col, tuple) else pdf[m.col]


def weighted_sample_measure(name: str, col: str, weight_col: str,
                            k: int | None = None,
                            item_type: str = "double") -> Measure:
    """Weight-proportional per-group sample (A-ES weighted reservoir;
    deterministic top-k merge). Zero/negative/null weights excluded."""
    from ..functions.sampling import approx_sample_estimate
    it = (ITEM_LONG if item_type in ("long", "int")
          else ITEM_STR if item_type in ("str", "string") else ITEM_DOUBLE)
    return Measure(name, (col, weight_col), "wreservoir",
                   lambda c: approx_sample_estimate(c, item_type=item_type),
                   k=k, item_type=it)


def sketch_partial_multi(df: DataFrame, keys: list[str],
                         measures: list[Measure],
                         max_groups: int = 100_000) -> DataFrame:
    """Phase 1 over several measures in ONE pass: each input partition is
    streamed once, one live sketch per (group, measure), emitting
    ``(keys..., <name>__state ...)`` rows. Compared with running one
    ``sketch_partial`` per measure this scans the source once instead of M
    times and shuffles one state row per group instead of M."""
    fams = [(m, _family(m.family, **m.params)) for m in measures]
    cols = list(dict.fromkeys(
        [*keys, *(c for m in measures
                  for c in (m.col if isinstance(m.col, tuple) else (m.col,)))]))
    src = df.select(*cols)
    fields = [src.schema[k] for k in keys]
    state_cols = [f"{m.name}__state" for m in measures]
    out_schema = StructType(fields + [StructField(c, BinaryType())
                                      for c in state_cols])

    def flush(groups: dict, originals: dict) -> pd.DataFrame:
        rows = {k: [originals[hk][i] for hk in groups]
                for i, k in enumerate(keys)}
        for j, c in enumerate(state_cols):
            rows[c] = [sks[j].serialize() for sks in groups.values()]
        return pd.DataFrame(rows)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        groups: dict = {}
        originals: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if not keys:
                sks = groups.get(())
                if sks is None:
                    sks = groups[()] = [fam.make() for _, fam in fams]
                    originals[()] = ()
                for j, (m, fam) in enumerate(fams):
                    fam.update_series(sks[j], _measure_input(pdf, m))
                continue
            ctxs = [fam.prep(_measure_input(pdf, m)) for m, fam in fams]
            for hk, kv, idx in _iter_groups(pdf, keys):
                sks = groups.get(hk)
                if sks is None:
                    sks = groups[hk] = [fam.make() for _, fam in fams]
                    originals[hk] = kv
                for j, (_, fam) in enumerate(fams):
                    fam.update(sks[j], ctxs[j], idx)
            if len(groups) >= max_groups:
                yield flush(groups, originals)
                groups, originals = {}, {}
        if groups:
            yield flush(groups, originals)

    return src.mapInPandas(build, out_schema)


_NAN = object()  # one token for every NaN, which never equals itself


def _group_token(v):
    """A hashable rendering of a key value that compares equal wherever
    Spark's grouping does: pandas renders a null as None, NaN or NaT,
    none of which equals itself, and a struct/array key as a dict/array."""
    if isinstance(v, dict):
        return tuple(_group_token(x) for x in v.values())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_group_token(x) for x in v)
    if isinstance(v, (float, np.floating)) and np.isnan(v):
        return _NAN
    if v is None or v is pd.NaT:
        return None
    return v


def _run_bounds(pdf: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """``[0, cut..., len(pdf)]``: the rows where any of ``cols`` differs
    from the row before. On input sorted on ``cols`` each run is one
    group, and the runs come in row order."""
    n = len(pdf)
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for c in cols:
        s = pdf[c]
        if s.dtype == object:
            t = [_group_token(v) for v in s.tolist()]
            change |= np.fromiter((a != b for a, b in zip(t[1:], t)),
                                  bool, n - 1)
        else:
            v, na = s.to_numpy(), s.isna().to_numpy()
            change |= ~((v[1:] == v[:-1]) | (na[1:] & na[:-1]))
    return np.concatenate(([0], np.flatnonzero(change) + 1, [n]))


def _proven_empty(df: DataFrame) -> bool:
    """True when Spark's optimizer reduces ``df`` to an empty local
    relation (``limit(0)``, a false filter, an empty local table)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (plan.getClass().getSimpleName() == "LocalRelation"
            and plan.data().isEmpty())


def _merge_states(partial: DataFrame, keys: list[str],
                  states: dict[str, str]) -> DataFrame:
    """Phase 2: merge each group's partial states in ONE ``mapInPandas``
    pass per shuffle partition (``states`` maps input state column to
    output column; family-agnostic via the ``states`` family).

    The exchange hash-partitions on the keys and sorts within partitions,
    so a group's rows are contiguous: the loop emits a group as soon as its
    key closes, and only the group still open at an Arrow batch boundary
    carries over. Live memory is one group, as with a sort-based aggregate,
    and Python is entered once per batch, not once per group per state.
    There is no ``max_groups`` flush here: a flushed group would come out
    twice. Without keys every state goes to one partition and exactly one
    row comes out, holding null states on empty input (SQL's rule for a
    global aggregate). A corrupt state raises, as combine does.

    Key columns that pandas would blur get a flag column that rides
    along as an extra group column and is undone afterwards: float keys
    an ``isnan`` flag (pandas renders null and NaN alike; -0.0 and NaN
    payloads are folded first, as Spark's own grouping does), nullable
    integral keys an ``isnull`` flag over ``coalesce(k, 0)`` (a null in
    the batch would turn the column into float64, which is not exact
    past 2**53). All of it goes into one ``select``: every DataFrame
    step costs driver-side analysis on each call."""
    fam = _states_family()
    in_cols, out_cols = list(states), list(states.values())
    fields = [partial.schema[k] for k in keys]
    sel, nan_flags, null_flags = list(keys), {}, {}  # key -> flag column
    for i, k in enumerate(keys):
        dt, c = fields[i].dataType, F.col(k)
        if isinstance(dt, (FloatType, DoubleType)):
            nan_flags[k] = f"__isnan{i}"
            sel[i] = (F.when(c == 0, F.lit(0.0).cast(dt))
                      .when(F.isnan(c), F.lit(float("nan")).cast(dt))
                      .otherwise(c).alias(k))
        elif isinstance(dt, IntegralType) and fields[i].nullable:
            null_flags[k] = f"__isnull{i}"
            sel[i] = F.coalesce(c, F.lit(0).cast(dt)).alias(k)
        else:
            continue
        fields[i] = StructField(k, dt, True)
    src = partial.select(
        *sel, *[F.isnan(k).alias(f) for k, f in nan_flags.items()],
        *[F.col(k).isNull().alias(f) for k, f in null_flags.items()],
        *in_cols)
    # the isnull flags stay in Python: the pass restores those nulls
    out_keys = keys + list(nan_flags.values())
    group_cols = out_keys + list(null_flags.values())
    null_at = {keys.index(k): group_cols.index(f)
               for k, f in null_flags.items()}
    out_schema = StructType(
        fields + [StructField(f, BooleanType()) for f in nan_flags.values()]
        + [StructField(c, BinaryType()) for c in out_cols])

    def rows(done: list) -> pd.DataFrame:
        out = {}
        for i, c in enumerate(out_keys):
            vals = [kv[i] for kv, _ in done]
            if i in null_at:  # object ints cross to Arrow exactly
                j = null_at[i]
                vals = pd.Series([None if kv[j] else int(v)
                                  for (kv, _), v in zip(done, vals)],
                                 dtype=object)
            out[c] = vals
        for j, c in enumerate(out_cols):
            out[c] = [sks[j].serialize() for _, sks in done]
        return pd.DataFrame(out)

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_tok = open_kv = open_sks = None
        if not keys:
            open_tok, open_kv, open_sks = (), (), [fam.make() for _ in in_cols]
        for pdf in batches:
            if pdf.empty:
                continue
            ctxs = [fam.prep(pdf[c]) for c in in_cols]
            bounds = _run_bounds(pdf, group_cols)
            kvs = (pdf[group_cols].iloc[bounds[:-1]]
                   .itertuples(index=False, name=None) if keys else [()])
            done = []
            for kv, lo, hi in zip(kvs, bounds[:-1], bounds[1:]):
                tok = _group_token(kv)
                if open_sks is None or tok != open_tok:
                    if open_sks is not None:
                        done.append((open_kv, open_sks))
                    open_tok, open_kv = tok, kv
                    open_sks = [fam.make() for _ in in_cols]
                for sk, ctx in zip(open_sks, ctxs):
                    fam.update(sk, ctx, slice(lo, hi))
            if done:
                yield rows(done)
        if open_sks is not None:
            yield rows([(open_kv, open_sks)])

    if keys:
        src = src.repartition(*keys).sortWithinPartitions(*group_cols)
    elif _proven_empty(src):
        # the optimizer drops the repartition of an input it proves empty,
        # leaving the pass no partition to emit the one row from
        return partial.sparkSession.range(0, 1, 1, 1).select(
            *[F.lit(None).cast(BinaryType()).alias(c) for c in out_cols])
    else:
        src = src.repartition(1)
    merged = src.mapInPandas(merge, out_schema)
    if not nan_flags:
        return merged
    return merged.select(
        *[F.when(F.col(nan_flags[k]), F.lit(float("nan")).cast(f.dataType))
          .otherwise(F.col(k)).alias(k) if k in nan_flags else k
          for k, f in zip(keys, fields)],
        *out_cols)


def sketch_grouped_agg(df: DataFrame, keys: list[str],
                       *measures: Measure,
                       max_groups: int = 100_000) -> DataFrame:
    """Grouped sketch aggregation with the scale-correct physics: map-side
    partial sketches (``mapInPandas``), a state-only shuffle, a sorted
    merge pass (:func:`_merge_states`), then estimate. This is what a
    bare ``GROUPED_AGG`` pandas UDF cannot do — it would shuffle every
    raw row to the aggregating task
    (the reference gets partial/final for free from
    ``TypedImperativeAggregate``, ``quantileSketches.scala:234-273``).

    ``max_groups`` bounds the per-executor live-sketch dict for
    high-cardinality keys (see :func:`sketch_partial`); flushing never
    changes results, only the count of (still state-sized) shuffle rows."""
    ms = list(measures)
    partial = sketch_partial_multi(df, keys, ms, max_groups=max_groups)
    merged = _merge_states(partial, keys,
                           {f"{m.name}__state": f"{m.name}__state"
                            for m in ms})
    outs = []
    for m in ms:
        out = m.estimator(F.col(f"{m.name}__state"))
        if m.preserve_type:
            from ..functions.quantiles import preserve_output_type
            dt = df.schema[m.col].dataType
            out = preserve_output_type(out, dt.simpleString(), m.multi)
        outs.append(out.alias(m.name))
    out = merged.select(*keys, *outs)
    # One row by construction. Spark pushes a filter on the estimates (the
    # size(...) > 0 it infers for inline/explode, a HAVING) through this
    # projection but not through a limit; below it, every estimate UDF
    # would run twice.
    return out if keys else out.limit(1)


def sketch_merge(df: DataFrame, keys: list[str],
                 state_col: str = "state") -> DataFrame:
    """Phase 2: merge partial states per group (family-agnostic)."""
    return _merge_states(df, keys, {state_col: state_col})


def sketch_accumulate(df: DataFrame, keys: list[str], col: str,
                      family: str, state_col: str = "state",
                      **params) -> DataFrame:
    """Two-phase accumulate: ``(keys..., state)`` summary table.

    Equivalent result to ``groupBy(keys).agg(approx_*_accumulate(col))`` but
    with map-side combine: the shuffle carries sketch states, not raw rows.
    """
    return sketch_merge(sketch_partial(df, keys, col, family, state_col,
                                       **params), keys, state_col)


def state_measure(name: str, col, family: str, **params) -> Measure:
    """A :class:`Measure` whose output is the raw merged STATE (for
    summary tables that estimate later), not an estimate — the
    multi-measure counterpart of :func:`sketch_accumulate`."""
    return Measure(name, col, family, lambda c: c, **params)


def sketch_accumulate_multi(df: DataFrame, keys: list[str],
                            measures: list[Measure],
                            max_groups: int = 100_000) -> DataFrame:
    """Two-phase accumulate for SEVERAL measures in ONE pass (r16):
    the source scans once, one live sketch per (group, measure) on the
    map side, ONE state-only shuffle row per group, merged per group in
    one sorted pass (:func:`_merge_states`), and the output is
    ``(keys..., <measure name> binary state ...)`` — what a summary
    table writing N sketch families per key should run instead of N
    :func:`sketch_accumulate` scans. Build measures with
    :func:`state_measure` (any family the single-measure path
    accepts, incl. tuple's two-column input as a col tuple)."""
    ms = list(measures)
    partial = sketch_partial_multi(df, keys, ms, max_groups=max_groups)
    return _merge_states(partial, keys,
                         {f"{m.name}__state": m.name for m in ms})
