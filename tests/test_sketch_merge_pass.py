"""Phase 2 of the two-phase sketch aggregate, pinned to its reference.

``_merge_states`` merges partial states in one sorted ``mapInPandas`` pass
per partition. Over the same partial-state table it must give the decoded
answers of the plain ``groupBy(keys).agg(combine_udf())`` aggregate, kept
here as the reference, for every key shape Spark can group by: ints,
bigints past 2**53 beside a null, strings, nulls, floats holding NaN /
-0.0 / 0.0, two-column keys, and struct ``window(...)`` keys. Each shape
also runs with tiny Arrow batches, so groups straddle batch boundaries
and the open group must carry over.

Groups are small enough that every sketch stays in its exact regime, so
answers do not depend on merge order and must match exactly.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_spark_spark.functions.udfs import combine_udf
from datasketches_spark_spark.operators.sketch_agg import (
    _family,
    _merge_states,
)
from datasketches_spark_spark.sketches import ITEM_LONG, deserialize_any

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
STATE_COLS = ("q", "d", "f")  # KLL quantiles, theta distinct, freq items
FAMILIES = (_family("kll"), _family("theta", k=4096),
            _family("freq", item_type=ITEM_LONG))


def _states(values):
    """One partial row's states; all null when ``values`` is None."""
    if values is None:
        return [None] * len(FAMILIES)
    out = []
    for fam in FAMILIES:
        sk = fam.make()
        fam.update_series(sk, pd.Series(values, dtype="float64"))
        out.append(bytearray(sk.serialize()))
    return out


def _decode(col, state):
    if state is None:
        return None
    sk = deserialize_any(bytes(state))
    if col == "q":
        return sk.n, tuple(sk.quantiles([0.0, 0.25, 0.5, 0.9, 1.0]))
    if col == "d":
        return sk.estimate()
    return tuple(sorted(sk.frequent_items()))


def _answers(rows, keys):
    """repr(key tuple) -> decoded states; repr keeps NaN, None and the
    sign of a zero apart. Asserts one row per key."""
    out = {}
    for r in rows:
        k = repr(tuple(r[k] for k in keys))
        assert k not in out, f"key {k} came out twice"
        out[k] = tuple(_decode(c, r[c]) for c in STATE_COLS)
    return out


def _partial(spark, key_values, schema, seed=7, all_null=None):
    """A shuffled partial-state table: 1-4 partial rows per key with 1-5
    small integer values each, some null-state rows, and (``all_null``)
    one key whose every state is null."""
    rng = np.random.default_rng(seed)
    rows = []
    for kv in key_values:
        for _ in range(int(rng.integers(1, 5))):
            vals = (None if kv == all_null or rng.random() < 0.15
                    else rng.integers(0, 20, int(rng.integers(1, 6))).tolist())
            rows.append((*kv, *_states(vals)))
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    cols = ", ".join(f"{c} binary" for c in STATE_COLS)
    return spark.createDataFrame(rows, f"{schema}, {cols}").repartition(3)


def _reference(partial, keys):
    aggs = [combine_udf()(F.col(c)).alias(c) for c in STATE_COLS]
    return (partial.groupBy(*keys).agg(*aggs) if keys
            else partial.agg(*aggs))


def _merged(partial, keys):
    return _merge_states(partial, keys, {c: c for c in STATE_COLS})


@pytest.fixture(params=[None, 3], ids=["default_batches", "3_row_batches"])
def batch_rows(request, spark):
    old = spark.conf.get(BATCH_KEY)
    if request.param is not None:
        spark.conf.set(BATCH_KEY, str(request.param))
    yield request.param
    spark.conf.set(BATCH_KEY, old)


_NAN = float("nan")
KEY_CASES = {
    "int": ("k int", [(i,) for i in range(30)]),
    "string": ("k string", [(f"s{i}",) for i in range(30)] + [("",)]),
    "null": ("a int, b string",
             [(None, None), (None, "x"), (1, None), (1, "x"), (2, "y"),
              (None, "y"), (3, None)]),
    "float": ("k double",
              [(0.0,), (-0.0,), (_NAN,), (None,), (1.5,), (-2.25,),
               (float("inf"),)]),
    # a null turns a pandas int64 column into float64, where 2**53 and
    # 2**53 + 1 are one value
    "bigint": ("k bigint",
               [(2 ** 53,), (None,), (2 ** 53 + 1,), (-(2 ** 63),),
                (2 ** 63 - 1,), (0,)]),
}


@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_merge_matches_grouped_combine(spark, batch_rows, case):
    schema, key_values = KEY_CASES[case]
    keys = [f.split()[0] for f in schema.split(", ")]
    partial = _partial(spark, key_values, schema, all_null=key_values[1])
    got = _answers(_merged(partial, keys).collect(), keys)
    ref = _answers(_reference(partial, keys).collect(), keys)
    assert got == ref
    # the all-null-state group merges to null states on both paths
    all_null = [v for k, v in ref.items() if v == (None, None, None)]
    assert all_null, ref


def test_float_keys_keep_nan_and_fold_negative_zero(spark, batch_rows):
    schema, key_values = KEY_CASES["float"]
    partial = _partial(spark, key_values, schema)
    keys = [r.k for r in _merged(partial, ["k"]).collect()]
    assert sum(k is None for k in keys) == 1
    assert sum(k is not None and k != k for k in keys) == 1  # one NaN
    zeros = [k for k in keys if k == 0.0]
    assert len(zeros) == 1 and repr(zeros[0]) == "0.0"


def test_two_keys_group_straddling_a_batch(spark):
    # Sorted on (a, b), the one partition reads (1,z) (2,a) (2,z) x4. With
    # 3-row batches (2,z) opens in the first batch and carries on in the
    # second; the groups of a batch must be visited in row order, or (2,z)
    # is emitted early and comes out twice.
    rows = [(1, "z", *_states([1])), (2, "a", *_states([2]))]
    rows += [(2, "z", *_states([v])) for v in (3, 4, 5, 6)]
    cols = ", ".join(f"{c} binary" for c in STATE_COLS)
    partial = spark.createDataFrame(rows, f"a int, b string, {cols}")
    conf = {BATCH_KEY: "3", "spark.sql.shuffle.partitions": "1"}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        got = _answers(_merged(partial, ["a", "b"]).collect(), ["a", "b"])
        ref = _answers(_reference(partial, ["a", "b"]).collect(), ["a", "b"])
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == ref and len(got) == 3
    assert got[repr((2, "z"))][0][0] == 4  # all four states in one group


def test_window_struct_keys(spark, batch_rows):
    base = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(3)
    rows = [(base + dt.timedelta(minutes=int(m)),
             *_states(rng.integers(0, 20, 3).tolist()))
            for m in rng.integers(0, 24 * 60, 120)]
    cols = ", ".join(f"{c} binary" for c in STATE_COLS)
    partial = (spark.createDataFrame(rows, f"ts timestamp, {cols}")
               .repartition(3)
               .select(F.window("ts", "1 hour").alias("w"), *STATE_COLS))
    got = _answers(_merged(partial, ["w"]).collect(), ["w"])
    ref = _answers(_reference(partial, ["w"]).collect(), ["w"])
    assert got == ref and len(got) > 10


def test_no_keys_matches_global_combine(spark, batch_rows):
    schema, key_values = KEY_CASES["int"]
    partial = _partial(spark, key_values, schema)
    (got,) = _merged(partial, []).collect()
    (ref,) = _reference(partial, []).collect()
    assert _answers([got], []) == _answers([ref], [])


def test_no_keys_empty_input_gives_one_null_row(spark):
    schema, key_values = KEY_CASES["int"]
    partial = _partial(spark, key_values, schema)
    # empty at run time, and empty as the optimizer can prove (no
    # partitions at all): both must still produce the one global row
    for empty in (partial.where(F.col("k") > 1000), partial.limit(0)):
        rows = _merged(empty, []).collect()
        assert len(rows) == 1
        assert all(rows[0][c] is None for c in STATE_COLS)


def test_corrupt_state_raises(spark):
    partial = spark.createDataFrame(
        [(1, None, None, None), (1, bytearray(b"garbage!"), None, None)],
        "k int, q binary, d binary, f binary")
    for keys in (["k"], []):
        with pytest.raises(Exception):
            _merged(partial, keys).collect()


def test_plan_is_one_sorted_pass(spark):
    schema, key_values = KEY_CASES["int"]
    plan = _merged(_partial(spark, key_values, schema), ["k"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowAggregatePython" not in plan
    assert "MapInPandas" in plan and "Sort [k" in plan
