"""The benchmark's workloads. Each drives the package's public functions
from one closed-loop client: the next op starts when the previous one
returned.

sample_interactive
    The paper's operator as a short interactive request, shaped like
    ``__spark_entry__.entry``: ``load_table(lineitem)`` ->
    ``operators.sample.sample(f, s)`` -> filter -> exact-decimal
    aggregate -> ``collect``. Requests are short, so the fixed
    per-request costs (table handle, Python plan build, Catalyst
    analysis, job and task launch) are a large share: driver-path
    changes move this workload. A round is 100 requests, so the p90 has
    10 samples beyond it.
tpch_olap
    The 22 registered TPC-H queries in a seed-shuffled order, each built
    by its registered constructor and collected. A round is one pass
    over the 22 queries. At the committed scale (sf0.01) a query spends
    most of its time in the driver, not in executor tasks, so planning
    and job-launch changes move it as much as scan or codegen changes.

An op is one request or query. Every op's output is checked after the
timed interval; a failed check fails its op.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time
from dataclasses import dataclass, field

import layout
import seeds
from oracle import OracleCache
from tracer import NullTracer

#: Upper bound on the probability that a correct sample falls outside
#: its Chernoff band, per request.
CHERNOFF_FAIL_P = 1e-9
#: The filter of a sample request, as in ``__spark_entry__.entry``.
SHIPDATE_CUTOFF = "2001-09-02"


@dataclass
class Ops:
    """The ops of one pass: their latencies and which of them failed."""

    latencies: list[float] = field(default_factory=list)
    ids: list[int] = field(default_factory=list)
    failed: set[int] = field(default_factory=set)
    round_walls: list[float] = field(default_factory=list)
    #: per round: (round context, op ids, op outputs) for the check
    outputs: list = field(default_factory=list)
    #: why ops failed
    errors: list[str] = field(default_factory=list)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self._op = 0

    def round_ops(self, round_no: int) -> tuple[object, list]:
        """(context, ops) of a round: each op is a callable taking the
        tracer and returning the op's output. Round -1 is the warm-up."""
        raise NotImplementedError

    def check(self, ops: Ops) -> list[str]:
        """Check every output of the pass, marking failed ops; returns
        the reasons."""
        raise NotImplementedError

    def warm_up(self) -> dict:
        """One untimed round, drawn apart from the timed ones (round -1),
        to bring the JVM and caches towards steady state. Returns, for the detail
        line, how many ops ran and the median latency of each fifth of
        them, which shows how far latency was still falling."""
        _ctx, fns = self.round_ops(-1)
        lat = []
        for fn in fns:
            t0 = time.perf_counter()
            fn(NullTracer())
            lat.append(time.perf_counter() - t0)
        fifths = [lat[len(lat) * i // 5 : len(lat) * (i + 1) // 5] for i in range(5)]
        return {"ops": len(lat), "fifth_p50_s": [statistics.median(f) for f in fifths if f]}

    def timed_pass(self, seconds: float) -> Ops:
        """Whole rounds for about ``seconds``: at least one, and another
        only while it is expected to end within ``seconds``."""
        tracer, ops = NullTracer(), Ops()
        start = time.perf_counter()
        r = 0
        while r == 0 or time.perf_counter() - start + ops.round_walls[-1] <= seconds:
            t0 = time.perf_counter()
            ctx, fns = self.round_ops(r)
            first = len(ops.ids)
            outs = [self._timed_op(fn, tracer, ops) for fn in fns]
            ops.outputs.append((ctx, ops.ids[first:], outs))
            ops.round_walls.append(time.perf_counter() - t0)
            r += 1
        return ops

    def paired_passes(self, seconds: float, tracer) -> tuple[Ops, Ops]:
        """Every round twice, untraced and traced, op by op: the two
        copies of an op run back to back in alternating order (which side
        leads first follows the seed), so the warming that continues
        through a run biases neither side. Round times are the sums of
        their op latencies."""
        sides = [(Ops(), NullTracer()), (Ops(), tracer)]
        start = time.perf_counter()
        r = 0
        while r == 0 or time.perf_counter() - start + 2 * sides[0][0].round_walls[-1] <= seconds:
            rounds = [self.round_ops(r) for _ in sides]
            outs: list[list] = [[], []]
            firsts = [len(ops.ids) for ops, _ in sides]
            for i in range(len(rounds[0][1])):
                for side in (0, 1) if (i + self.seed) % 2 == 0 else (1, 0):
                    ops, tr = sides[side]
                    outs[side].append(self._timed_op(rounds[side][1][i], tr, ops))
            for side, (ops, _tr) in enumerate(sides):
                n = len(rounds[side][1])
                ops.outputs.append((rounds[side][0], ops.ids[firsts[side]:], outs[side]))
                ops.round_walls.append(sum(ops.latencies[-n:]))
            r += 1
        return sides[0][0], sides[1][0]

    def _timed_op(self, fn, tracer, ops: Ops):
        self._op += 1
        op = self._op
        ops.ids.append(op)
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op):
                out = fn(tracer)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            out = None
            ops.failed.add(op)
            ops.errors.append(f"op {op}: {type(e).__name__}: {e}")
        ops.latencies.append(time.perf_counter() - t0)
        return out


class SampleInteractive(Workload):
    name = "sample_interactive"
    ROUND = 100
    #: Requests of the warm-up. Latency keeps falling for the first
    #: 100-150 requests of a JVM, as JIT compilation settles after about
    #: a minute of activity however many client threads drive it. The
    #: benchmark's total run budget affords 40 here, so latency is still
    #: falling during the timed round.
    WARMUP = 40

    def request(self, tracer, fraction: float, seed: int):
        from pyspark.sql import functions as F

        from ballista_extensions_spark.functions.exact import davg, dsum, lcount
        from ballista_extensions_spark.io import load_table
        from ballista_extensions_spark.operators.sample import sample

        with tracer.span("io.load_table"):
            li = load_table(self.spark, layout.SMALL_DATA, "lineitem")
        with tracer.span("operators.sample"):
            s = sample(li, fraction, seed=seed)
        with tracer.span("client.plan"):
            q = (
                s.filter(F.col("l_shipdate") <= F.lit(SHIPDATE_CUTOFF).cast("timestamp"))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    dsum(F.col("l_quantity"), "sum_qty"),
                    dsum(F.col("l_extendedprice"), "sum_base_price"),
                    davg(F.col("l_discount"), "avg_disc"),
                    lcount("count_order"),
                )
            )
        with tracer.span("spark.action"):
            return [tuple(r) for r in q.collect()]

    def round_ops(self, round_no):
        if round_no < 0:
            reqs = seeds.sample_round(self.seed, round_no, size=self.WARMUP, repeats=0)
        else:
            reqs = seeds.sample_round(self.seed, round_no, size=self.ROUND)
        return reqs, [
            lambda tracer, q=q: self.request(tracer, q.fraction, q.seed) for q in reqs
        ]

    def check(self, ops):
        n = OracleCache().answer(*kept_rows_oracle())["rows"]
        reasons = list(ops.errors)
        for reqs, ids, results in ops.outputs:
            for req, op, rows in zip(reqs, ids, results):
                if rows is None:
                    continue
                got = sum(r[-1] for r in rows)
                lo, hi = chernoff_band(n, req.fraction)
                if not lo <= got <= hi:
                    ops.failed.add(op)
                    reasons.append(f"op {op}: sample(f={req.fraction}, s={req.seed}) kept {got} rows, outside [{lo}, {hi}] of {n}")
                if req.repeat_of >= 0 and sorted(rows) != sorted(results[req.repeat_of] or []):
                    ops.failed.add(op)
                    reasons.append(f"op {op}: repeated sample(f={req.fraction}, s={req.seed}) returned other rows")
        return reasons


def kept_rows_oracle() -> tuple[str, str, dict[str, str]]:
    """(cache name, SQL, tables) of the oracle whose row count is the
    number of ``lineitem`` rows the sample request's filter keeps: the
    count a sample's size is checked against."""
    sql = f"SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_shipdate <= CAST('{SHIPDATE_CUTOFF}' AS TIMESTAMP)"
    return "sample_kept_rows", sql, {"lineitem": os.path.join(layout.SMALL_DATA, "lineitem.parquet")}


def chernoff_band(n: int, fraction: float) -> tuple[int, int]:
    """Counts a Bernoulli(``fraction``) sample of ``n`` rows stays within
    except with probability ``CHERNOFF_FAIL_P``:
    P(|X - mu| >= d mu) <= 2 exp(-d^2 mu / 3) for d <= 1."""
    mu = n * fraction
    d = min(1.0, math.sqrt(3 * math.log(2 / CHERNOFF_FAIL_P) / mu))
    return math.floor(mu * (1 - d)), math.ceil(mu * (1 + d))


class TpchOlap(Workload):
    name = "tpch_olap"

    def __init__(self, spark, seed, run_dir):
        from ballista_extensions_spark.queries import get_oracles, get_queries

        super().__init__(spark, seed, run_dir)
        self.queries = {n: fn for n, fn in get_queries().items() if TPCH_NAME.match(n)}
        self.oracles = get_oracles()

    def query(self, tracer, name: str):
        with tracer.span("queries.build"):
            df = self.queries[name](self.spark, layout.SMALL_DATA)
        with tracer.span("spark.action"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def round_ops(self, round_no):
        names = seeds.query_order(self.seed, round_no, self.queries)
        return names, [lambda tracer, n=n: self.query(tracer, n) for n in names]

    def check(self, ops):
        from oracle import rowset_digest

        cache = OracleCache()
        tables = layout.small_tables()
        reasons = list(ops.errors)
        for names, ids, outs in ops.outputs:
            for name, op, out in zip(names, ids, outs):
                if out is None:
                    continue
                got = rowset_digest(*out)
                want = cache.answer(name, self.oracles[name], tables)
                if got != want:
                    ops.failed.add(op)
                    reasons.append(f"op {op}: {name} returned {got['rows']} rows unlike its oracle's {want['rows']}")
        return reasons


#: The registered TPC-H queries: ``q1_pricing_summary`` ...
TPCH_NAME = re.compile(r"q\d+_")


WORKLOADS = {w.name: w for w in (SampleInteractive, TpchOlap)}
