"""The two workloads and the dedup probe: what one op is, its exact
answer, and its check.

``prepare`` writes the seeded inputs (repeatable; timed several times),
``warm`` is the one-off first use, ``op`` is one timed operation (plan,
execute, collect) and ``check`` compares its output with numpy ground
truth. Each op's driver spans wrap only public entry points.

The MinHash-LSH dedup operator is not a workload of its own (its op time
spread too widely from run to run on a shared 4-vCPU host); the traced
run of ``ingest_skewed`` measures its layer with ``DedupProbe``.
"""

from __future__ import annotations

import math
import os
import statistics

import numpy as np
from pyspark.sql import functions as F

import datasketches_spark_spark as dss
from datasketches_spark_spark.functions import (
    distinctcnt,
    freqitems,
    quantiles,
)
from datasketches_spark_spark.functions.text import token_shingles, tokenize
from datasketches_spark_spark.operators import dedup
from datasketches_spark_spark.operators.sketch_agg import (
    sketch_accumulate_multi,
    state_measure,
)
from datasketches_spark_spark.sketches import (
    ITEM_LONG,
    FreqItemsSketch,
    KllSketch,
    ThetaSketch,
    deserialize_any,
)

from . import gen, kernels

KLL_EPS = 2.296 / kernels.KLL_K ** 0.9          # KLL normalized rank error
# KMV relative standard error is 1/sqrt(k - 2). A run makes ~50 NDV checks
# in estimation mode: at 3 RSE a correct sketch would fail about one run in
# eight, at 4 RSE about one in three hundred.
NDV_SIGMAS = 4.0
THETA_TOL = NDV_SIGMAS / math.sqrt(kernels.THETA_K - 2)
PCTS = (0.5, 0.9, 0.99)
DEDUP_T = 0.6
RECALL_T = 0.8


def _measures():
    return [state_measure("q", "value", "kll"),
            state_measure("d", "user_id", "theta"),
            state_measure("f", "item", "freq", item_type=ITEM_LONG)]


# ------------------------------------------------------- exact-answer checks

def _rank_error(sorted_vals: np.ndarray, est: float, p: float) -> float:
    """Distance from p to the true normalized-rank interval of ``est``."""
    n = sorted_vals.size
    x = np.float32(est)
    lo = np.searchsorted(sorted_vals, x, "left") / n
    hi = np.searchsorted(sorted_vals, x, "right") / n
    return 0.0 if lo <= p <= hi else min(abs(lo - p), abs(hi - p))


def _disc(sorted_vals: np.ndarray, p: float) -> float:
    return float(sorted_vals[max(math.ceil(p * sorted_vals.size), 1) - 1])


class Truth:
    """Exact per-group answers over a row subset of the fact table."""

    def __init__(self, values: np.ndarray, users: np.ndarray,
                 items: np.ndarray):
        self.n = values.size
        self.sorted = np.sort(values.astype(np.float32))
        self.ndv = int(np.unique(users).size)
        it, cnt = np.unique(items, return_counts=True)
        self.items = dict(zip(it.tolist(), cnt.tolist()))

    def quantile_errors(self, ests, exact: bool) -> list[str]:
        errs = []
        for p, e in zip(PCTS, ests):
            if e is None:
                errs.append(f"p{p}: null")
                continue
            want = _disc(self.sorted, p)
            if exact and float(np.float32(e)) != want:
                errs.append(f"p{p}: exact-regime {e} != {want}")
            r = _rank_error(self.sorted, e, p)
            if r > KLL_EPS:
                errs.append(f"p{p}: rank error {r:.4f} > eps {KLL_EPS:.4f}")
        return errs

    def ndv_errors(self, est, k: int = kernels.THETA_K) -> list[str]:
        if est is None:
            return ["ndv: null"]
        if self.ndv < k:
            return [] if est == self.ndv else [
                f"ndv exact {est} != {self.ndv}"]
        if abs(est - self.ndv) > THETA_TOL * self.ndv:
            return [f"ndv {est} vs {self.ndv} beyond {NDV_SIGMAS:g} RSE"]
        return []

    def freq_errors(self, reported: list[tuple[int, int]],
                    maxerr: int) -> list[str]:
        """Reported estimates lie in [true, true + maxerr]; no item whose
        true count exceeds 2 x maxerr is missing (Misra-Gries lower bound
        >= true - maxerr, reported when it exceeds maxerr)."""
        errs = []
        got = dict(reported)
        for item, est in got.items():
            t = self.items.get(item, 0)
            if not t <= est <= t + maxerr:
                errs.append(f"item {item}: {est} outside [{t}, {t + maxerr}]")
        need = [i for i, c in self.items.items() if c > 2 * maxerr]
        missing = [i for i in need if i not in got]
        if missing:
            errs.append(f"{len(missing)} heavy items missing "
                        f"(maxerr {maxerr})")
        return errs


def _group_index(keys: np.ndarray) -> dict[int, np.ndarray]:
    """Group key -> row positions."""
    order = np.argsort(keys, kind="stable")
    cuts = np.flatnonzero(np.diff(keys[order])) + 1
    return {int(keys[s[0]]): s for s in np.split(order, cuts)}


def _require(errs: list[str]) -> None:
    if errs:
        raise RuntimeError("; ".join(errs[:3]))


# ----------------------------------------------------------------- workloads

class IngestSkewed:
    """Accumulate side: raw fact rows -> (day, key) KLL/theta/freq states."""

    name = "ingest_skewed"
    operator_layer = "operators.sketch_agg"
    op_bound_s = 60.0
    block = 1
    warm_ops = 3    # op times settle after a few ops (JIT)

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.work = work
        self.dir = os.path.join(work, "fact")
        self.state_bytes = 0

    def prepare(self) -> str:
        self.fact = gen.fact_table(self.seed, self.dir)
        return gen.digest(self.fact.paths)

    def truth(self, rng) -> None:
        f = self.fact
        gid = f.day.astype(np.int64) * gen.FACT_KEYS + f.key
        self.groups = _group_index(gid)
        sizes = sorted(self.groups, key=lambda g: -self.groups[g].size)
        head = sizes[:8]
        tail = rng.choice(sizes[8:], 24, replace=False).tolist()
        self.checked = {g: Truth(f.value[self.groups[g]],
                                 f.user_id[self.groups[g]],
                                 f.item[self.groups[g]])
                        for g in head + tail}

    def warm(self) -> None:
        for _ in range(self.warm_ops):
            _require(self.check(self.op(-1)))

    def op(self, i: int):
        tr = self.tracer
        with tr.span("sources.read", i):
            df = self.spark.read.parquet(self.dir)
        with tr.span("operators.sketch_agg.call", i):
            out = sketch_accumulate_multi(df, ["day", "key"], _measures())
        if tr.enabled:
            with tr.span("driver.plan", i):
                out._jdf.queryExecution().executedPlan()
        with tr.span("driver.execute", i):
            return out.collect()

    def rows(self, i: int) -> int:
        return self.fact.rows

    def check(self, rows) -> list[str]:
        errs = []
        by = {int(r["day"]) * gen.FACT_KEYS + int(r["key"]): r for r in rows}
        if len(rows) != len(self.groups) or set(by) != set(self.groups):
            errs.append(f"{len(rows)} groups, expected {len(self.groups)}")
        self.state_bytes = sum(len(r[c]) for r in rows for c in "qdf")
        for g, t in self.checked.items():
            r = by.get(g)
            if r is None:
                continue
            q, d, f = (deserialize_any(bytes(r[c])) for c in "qdf")
            if not (isinstance(q, KllSketch) and isinstance(d, ThetaSketch)
                    and isinstance(f, FreqItemsSketch)):
                errs.append(f"group {g}: wrong state families")
                continue
            if q.n != t.n:
                errs.append(f"group {g}: kll n {q.n} != {t.n}")
            errs += t.quantile_errors(q.quantiles(PCTS), q.is_exact())
            errs += t.ndv_errors(d.estimate(), d.k)
            errs += t.freq_errors(f.frequent_items(), int(f._max_err))
        return errs

    def state_bytes_per_row(self) -> float:
        return self.state_bytes / self.fact.rows

    def traced_extras(self, op_p50: float, nproc: int, sql):
        """Kernel microbenches (kernel_share is the kernels' share of the
        op's core-seconds; 1 - kernel_share is the framework's share) and
        the dedup layer, from a ``DedupProbe`` on a corpus of the same
        seed. Returns (metrics, check errors)."""
        out = kernels.microbench(self.fact)
        out["sketches.kernel_share"] = out.pop("kernel_s") / (op_p50 * nproc)
        dedup_out, errs = DedupProbe(self.spark, self.seed,
                                     self.work).measure(sql)
        out.update(dedup_out)
        return out, errs


_FAMILIES = ("percentile", "distinct", "freqitems", "bounds")
_REGROUPS = (0, 2, 4, 8)
_SPANS = (2, 4, 6, 8)


class RollupQueries(IngestSkewed):
    """Combine/estimate side: seeded closed-loop queries over a cached
    state table; no raw rows are read."""

    name = "rollup_queries"
    op_bound_s = 30.0
    block = 16      # the loop ends on a whole block of queries

    def truth(self, rng) -> None:
        self.rng = rng
        self.queries: list[tuple] = []
        self.states_per_day = np.array([
            np.unique(self.fact.key[self.fact.day == d]).size
            for d in range(gen.FACT_DAYS)])

    def _query(self, i: int) -> tuple:
        """Stratified stream: every eight queries hold each family,
        regroup and day-span length twice; two of them, of different
        families, go in as SQL text, and every sixteen queries each family
        goes in as SQL exactly once (SQL and DataFrame queries of one
        family differ in cost, so every run sees the same mix)."""
        while len(self.queries) <= i:
            rng = self.rng
            order = rng.permutation(_FAMILIES).tolist()
            for sql in (set(order[:2]), set(order[2:])):
                fams, groups, spans = (list(x) * 2 for x in
                                       (_FAMILIES, _REGROUPS, _SPANS))
                for x in (fams, groups, spans):
                    rng.shuffle(x)
                for fam, m, span in zip(fams, groups, spans):
                    lo = int(rng.integers(0, gen.FACT_DAYS - span + 1))
                    self.queries.append((fam, m, lo, lo + span - 1,
                                         fam in sql))
                    sql.discard(fam)
        return self.queries[i]

    def warm(self) -> None:
        df = self.spark.read.parquet(self.dir)
        self.states = sketch_accumulate_multi(
            df, ["day", "key"], _measures()).cache()
        n = self.states.count()
        self.state_bytes = self.states.select(F.sum(
            F.length("q") + F.length("d") + F.length("f"))).first()[0]
        if n != sum(self.states_per_day):
            raise RuntimeError(f"state table has {n} rows")
        self.states.createOrReplaceTempView("states")
        dss.install(self.spark)
        for fam in _FAMILIES:
            for sql in (False, True):
                q = (fam, 4, 0, gen.FACT_DAYS - 1, sql)
                _require(self.check_query(q, self.run_query(q, -1)))

    def op(self, i: int):
        q = self._query(i)
        return q, self.run_query(q, i)

    def run_query(self, q: tuple, i: int):
        fam, m, lo, hi, sql = q
        tr = self.tracer
        if sql:
            with tr.span("sql.rewrite", i):
                out = dss.sql(self.spark, self._sql_text(q))
        else:
            with tr.span("functions.udfs.call", i):
                out = self._df_query(q)
        if tr.enabled:
            with tr.span("driver.plan", i):
                out._jdf.queryExecution().executedPlan()
        with tr.span("driver.execute", i):
            return out.collect()

    def _df_query(self, q: tuple):
        fam, m, lo, hi, _ = q
        sub = self.states.where(F.col("day").between(lo, hi))
        g = [(F.col("key") % m).alias("g")] if m else []
        keep = ["g"] if m else []
        if fam == "percentile":
            agg = sub.groupBy(*g).agg(
                quantiles.approx_percentile_combine("q").alias("s"))
            return agg.select(*keep, quantiles.approx_percentile_estimate(
                "s", list(PCTS)).alias("r"))
        if fam == "distinct":
            agg = sub.groupBy(*g).agg(
                distinctcnt.approx_count_distinct_combine("d").alias("s"))
            return agg.select(
                *keep,
                distinctcnt.approx_count_distinct_estimate("s").alias("r"))
        if fam == "freqitems":
            agg = sub.groupBy(*g).agg(
                freqitems.approx_freqitems_combine("f").alias("s"))
            return agg.select(*keep, freqitems.approx_freqitems_estimate(
                "s", "long").alias("r"),
                freqitems.approx_freqitems_maxerr("s").alias("e"))
        agg = sub.groupBy(*g).agg(
            distinctcnt.approx_count_distinct_combine("d").alias("s"),
            quantiles.approx_percentile_combine("q").alias("s2"))
        return agg.select(*keep,
                          distinctcnt.approx_count_distinct_bounds(
                              "s", NDV_SIGMAS).alias("r"),
                          quantiles.approx_percentile_bounds(
                              "s2", 0.5).alias("r2"))

    @staticmethod
    def _sql_text(q: tuple) -> str:
        fam, m, lo, hi, _ = q
        items = {
            "percentile": "approx_percentile_estimate_array("
                          "approx_percentile_combine(q), "
                          "array(0.5D, 0.9D, 0.99D)) AS r",
            "distinct": "approx_count_distinct_estimate("
                        "approx_count_distinct_combine(d)) AS r",
            "freqitems": "approx_freqitems_estimate_long("
                         "approx_freqitems_combine(f)) AS r, "
                         "approx_freqitems_maxerr("
                         "approx_freqitems_combine(f)) AS e",
            "bounds": "approx_count_distinct_bounds("
                      "approx_count_distinct_combine(d), "
                      f"{NDV_SIGMAS}D) AS r, "
                      "approx_percentile_bounds(approx_percentile_combine(q), "
                      "0.5D, CAST(NULL AS DOUBLE)) AS r2",
        }[fam]
        sel = f"key % {m} AS g, " if m else ""
        grp = f" GROUP BY key % {m}" if m else ""
        return (f"SELECT {sel}{items} FROM states "
                f"WHERE day BETWEEN {lo} AND {hi}{grp}")

    def traced_extras(self, op_p50: float, nproc: int, sql):
        out = kernels.microbench(self.fact)
        del out["kernel_s"]     # a query updates no sketch from raw rows
        return out, []

    def rows(self, i: int) -> int:
        _, _, lo, hi, _ = self._query(i)
        return int(self.states_per_day[lo:hi + 1].sum())

    def check(self, result) -> list[str]:
        q, rows = result
        return self.check_query(q, rows)

    def check_query(self, q: tuple, rows) -> list[str]:
        fam, m, lo, hi, _ = q
        f = self.fact
        sel = np.flatnonzero((f.day >= lo) & (f.day <= hi))
        gkey = f.key[sel] % m if m else np.zeros(sel.size, np.int64)
        groups = _group_index(gkey)
        if len(rows) != len(groups):
            return [f"{q}: {len(rows)} rows, expected {len(groups)}"]
        errs = []
        for r in rows:
            g = int(r["g"]) if m else 0
            idx = sel[groups[g]]
            t = Truth(f.value[idx], f.user_id[idx], f.item[idx])
            if fam == "percentile":
                # merged states of this size are past the exact regime
                errs += t.quantile_errors(r["r"] or [None] * 3, False)
            elif fam == "distinct":
                errs += t.ndv_errors(r["r"])
            elif fam == "freqitems":
                rep = [(int(x["item"]), int(x["estimated"]))
                       for x in (r["r"] or [])]
                errs += t.freq_errors(rep, int(r["e"]))
            else:
                lo_n, hi_n = r["r"] or (None, None)
                if lo_n is None or not lo_n <= t.ndv <= hi_n:
                    errs.append(f"ndv {t.ndv} outside {r['r']}")
                med = _disc(t.sorted, 0.5)
                b = r["r2"]
                if b is None or not (np.float32(b[0]) <= med
                                     <= np.float32(b[1])):
                    errs.append(f"median {med} outside {b}")
        return [f"{q}: {e}" for e in errs]


class DedupProbe:
    """The LLM-pipeline layer: ``minhash_dedup_pairs(threshold=0.6)`` over
    a seeded corpus, run a few times after a first use, each output
    checked; then each stage of the op timed alone. No sketch layer runs
    here. ``measure`` returns (``operators.dedup.*`` metrics, errors)."""

    ops = 3

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.dir = os.path.join(work, "corpus")

    def measure(self, sql) -> tuple[dict[str, float], list[str]]:
        self.corpus = gen.corpus(self.seed, self.dir)
        self.sets = gen.shingle_sets(self.corpus.tokens)
        self.must = gen.pairs_at_least(self.sets, RECALL_T)
        errs = self.check(self.op())            # first use
        sql.collect("operators.dedup")
        run_s = []
        for _ in range(self.ops):
            errs += self.check(self.op())
            layers = sql.collect("operators.dedup")
            run_s.append(layers.get("operators.dedup.python_run_s", 0.0))
        out = self.stage_times()
        out["operators.dedup.python_run_s"] = statistics.median(run_s)
        return out, [f"dedup probe: {e}" for e in errs]

    # The stage probes below compose the same public calls, in the same
    # order, as ``minhash_dedup_pairs`` does: signature = spread source ->
    # bound tokens -> xxhash64 per word 3-gram -> ``minhash_bands``;
    # candidates = ``lsh_candidate_pairs``; verify = candidate pairs joined
    # with the raw text, tokens and shingles bound per side, exact Jaccard
    # by ``array_intersect`` / ``array_union``. (The op does not call
    # ``jaccard_verify``.)

    def _text(self):
        return self.spark.read.parquet(self.dir).select("doc_id", "text")

    @staticmethod
    def _spread(src):
        p = src.sparkSession.sparkContext.defaultParallelism
        return src.repartition(p) if src.rdd.getNumPartitions() < p else src

    @staticmethod
    def _bands(spread):
        hashed = F.transform(token_shingles(F.col("_tk"), gen.SHINGLE_N),
                             lambda s: F.xxhash64(s))
        base = (spread.select("doc_id", tokenize("text").alias("_tk"))
                .select("doc_id", hashed.alias("_shh")))
        return dedup.minhash_bands(base, "doc_id", F.col("_shh"))

    @staticmethod
    def _verify(cands, text):
        ta = text.select(F.col("doc_id").alias("id_a"),
                         F.col("text").alias("_ta"))
        tb = text.select(F.col("doc_id").alias("id_b"),
                         F.col("text").alias("_tb"))
        ids = ["id_a", "id_b"]
        tk = (cands.join(ta, "id_a").join(tb, "id_b")
              .select(*ids, tokenize(F.col("_ta")).alias("_tka"),
                      tokenize(F.col("_tb")).alias("_tkb")))
        sh = tk.select(*ids,
                       token_shingles(F.col("_tka"), gen.SHINGLE_N)
                       .alias("_sa"),
                       token_shingles(F.col("_tkb"), gen.SHINGLE_N)
                       .alias("_sb"))
        jac = (F.size(F.array_intersect("_sa", "_sb")).cast("double")
               / F.size(F.array_union("_sa", "_sb")).cast("double"))
        return (sh.select(*ids, jac.alias("jaccard"))
                .where(F.col("jaccard") >= DEDUP_T))

    def op(self):
        df = self.spark.read.parquet(self.dir)
        return dedup.minhash_dedup_pairs(df, "doc_id", "text",
                                         threshold=DEDUP_T).collect()

    def check(self, rows) -> list[str]:
        errs = []
        got = set()
        for r in rows:
            a, b, j = int(r["id_a"]), int(r["id_b"]), r["jaccard"]
            if not a < b or (a, b) in got:
                errs.append(f"pair ({a}, {b}) out of order or repeated")
            got.add((a, b))
            exact = gen.jaccard(self.sets[a], self.sets[b])
            if j != exact:
                errs.append(f"pair ({a}, {b}): J {j}, exact {exact}")
            if exact < DEDUP_T:
                errs.append(f"pair ({a}, {b}): J {exact} below {DEDUP_T}")
        missing = self.must - got
        if missing:
            errs.append(f"{len(missing)} pairs with J >= {RECALL_T} missing")
        return errs

    def stage_times(self) -> dict[str, float]:
        """Each stage of the op timed alone, its input materialized in
        memory: signature (shingle hashing + ``minhash_bands``), candidates
        (``lsh_candidate_pairs``), verify (the raw-text join and exact
        Jaccard)."""
        import time

        def timed(df):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        text = self._text().localCheckpoint(eager=True)
        spread = self._spread(self._text()).localCheckpoint(eager=True)
        bands = self._bands(spread)
        sig_s = timed(bands)
        bands = bands.localCheckpoint(eager=True)
        cands = dedup.lsh_candidate_pairs(bands)
        cand_s = timed(cands)
        cands = cands.localCheckpoint(eager=True)
        verified = self._verify(cands, text)
        ver_s = timed(verified)
        n_c, n_v = cands.count(), verified.count()
        for df in (text, spread, bands, cands):
            df.unpersist()
        return {"operators.dedup.signature_s": sig_s,
                "operators.dedup.candidates_s": cand_s,
                "operators.dedup.verify_s": ver_s,
                "operators.dedup.candidate_pairs": float(n_c),
                "operators.dedup.verified_pairs": float(n_v),
                "operators.dedup.verify_yield": n_v / n_c if n_c else 0.0}


WORKLOADS = {w.name: w for w in (IngestSkewed, RollupQueries)}
