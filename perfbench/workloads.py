"""The three workloads: inputs, set-up, the op list of one pass, and
the untimed output checks.

Each op is a closed-loop call from one client thread; `run_op`
returns what the op produced so the checks can look at it after the
timed passes.
"""

from __future__ import annotations

import math
import os
import random

import data
from spans import dir_stats


class NullTracer:
    """Span API with nothing behind it: the untraced passes."""
    active = False

    class _Nop:
        def __enter__(self):
            return {}

        def __exit__(self, *exc):
            return False

    def op(self, name, pass_no):
        return self._Nop()

    def span(self, kind, **attrs):
        return self._Nop()


class Op:
    def __init__(self, name: str, kind: str, arg):
        self.name, self.kind, self.arg = name, kind, arg


class Workload:
    """Hooks a workload may leave out."""
    #: untimed passes after the cold one, before timing starts
    WARM_PASSES = 0

    def setup(self, spark):
        pass

    def begin_pass(self, pass_no):
        pass

    def end_pass(self, spark):
        pass

    def extra_metrics(self, ops) -> dict:
        return {}


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b or str(a) == str(b)


def rows_match(got: list[dict], want: list[dict]) -> str | None:
    """Order-insensitive comparison of result rows; None when equal,
    else the first difference."""
    if not want and not got:
        return None
    cols = sorted(want[0].keys()) if want else sorted(got[0].keys())
    if got and sorted(got[0].keys()) != cols:
        return f"columns {sorted(got[0].keys())} != {cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"

    def key(r):
        return tuple(round(r[c], 6) if isinstance(r[c], float) else str(r[c])
                     for c in cols)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        bad = [c for c in cols if not close(g[c], w[c])]
        if bad:
            return f"{bad[0]}: {g[bad[0]]!r} != {w[bad[0]]!r}"
    return None


# ---------------------------------------------------------------------
# sybil_queries
# ---------------------------------------------------------------------

#: the reference's canonical query shapes as CLI flags, the filters
#: folded into other shapes to keep a pass short; every op also gets a
#: sliding `time` window
SHAPES = {
    "count_cached": ["-cache-queries"],
    "group_avg_cached": ["-group", "host", "-int", "ping", "-op", "avg",
                         "-cache-queries"],
    "hist_int_filter": ["-int", "ping", "-op", "hist", "-int-bucket", "10",
                        "-int-filter", "ping:gt:20"],
    "time_avg_regex": ["-time", "-time-bucket", "86400", "-int", "ping",
                       "-op", "avg", "-str-filter", "host:re:^h[12]$"],
    "distinct_set_filter": ["-group", "host", "-op", "distinct",
                            "-distinct", "status,weight",
                            "-set-filter", "groups:in:mod3"],
    "weighted_count": ["-group", "host", "-weight-col", "weight"],
    "samples": ["-samples", "-limit", "20", "-sort", "index_int"],
    "hist_summary": ["-group", "host", "-int", "ping", "-op", "hist",
                     "-hist-summary", "-int-bucket", "5"],
    "sort_limit": ["-group", "host,status", "-int", "ping", "-op", "avg",
                   "-sort", "avg_ping", "-limit", "5"],
}

DAY = 86_400


def _flag(argv: list[str], name: str) -> str | None:
    return argv[argv.index(name) + 1] if name in argv else None


def duck_sql(argv: list[str], lo: int, hi: int) -> str:
    """DuckDB SQL for one SHAPES entry over the generated rows `ev`."""
    tb = int(_flag(argv, "-time-bucket") or 0) if "-time" in argv else 0
    if tb:
        lo, hi = lo - lo % tb, hi - hi % tb
    where = [f"time >= {lo}", f"time < {hi}"]
    for spec in [argv[i + 1] for i, a in enumerate(argv)
                 if a == "-int-filter"]:
        col, op, val = spec.split(":")
        sym = {"gt": ">", "lt": "<", "ge": ">=", "le": "<=", "eq": "=",
               "neq": "<>"}[op]
        where.append(f"{col} {sym} {val}")
    if "-str-filter" in argv:
        col, _op, pat = _flag(argv, "-str-filter").split(":", 2)
        where.append(f"regexp_matches({col}, '{pat}')")
    if "-set-filter" in argv:
        col, _op, val = _flag(argv, "-set-filter").split(":", 2)
        where.append(f"list_contains({col}, '{val}')")
    w = " and ".join(where)
    groups = [g for g in (_flag(argv, "-group") or "").split(",") if g]
    gsel = groups + ([f"time - time % {tb} as tbucket"] if tb else [])
    gby = groups + (["tbucket"] if tb else [])
    num = _flag(argv, "-int")
    limit = int(_flag(argv, "-limit") or 100)
    if "-samples" in argv:
        return (f"select * from ev where {w} "
                f"order by {_flag(argv, '-sort')} desc limit {limit}")
    if "-hist-summary" in argv:
        b = float(_flag(argv, "-int-bucket"))
        g = ", ".join(groups)
        return f"""
            with f as (select {g}, {num} as v from ev where {w}),
            h as (select {g}, floor(v / {b}) * {b} as bucket,
                         count(*) as n from f group by all),
            c as (select {g}, bucket,
                         sum(n) over (partition by {g} order by bucket
                                      rows unbounded preceding) as cum,
                         sum(n) over (partition by {g}) as tot from h),
            p as (select {g},
                  min(bucket) filter (where cum >= 0.25 * tot) as p25,
                  min(bucket) filter (where cum >= 0.5 * tot) as p50,
                  min(bucket) filter (where cum >= 0.75 * tot) as p75
                  from c group by all)
            select {g}, count(*) as samples, sum(v)::double as sum_{num},
                   avg(v) as avg_{num}, stddev_samp(v) as stddev_{num},
                   p25, p50, p75
            from f join p using ({g}) group by all"""
    if "-op" in argv and _flag(argv, "-op") == "hist":
        b = float(_flag(argv, "-int-bucket"))
        return (f"select {', '.join(gsel + [f'floor({num} / {b}) * {b} as bucket'])}, "
                f"count(*) as count from ev where {w} group by all")
    aggs = []
    if "-weight-col" in argv:
        wc = _flag(argv, "-weight-col")
        aggs += [f"sum({wc})::double as count", "count(*) as samples"]
    else:
        aggs.append("count(*) as count")
    if _flag(argv, "-op") == "avg":
        aggs.append(f"avg({num}) as avg_{num}")
    if _flag(argv, "-op") == "distinct":
        cols = _flag(argv, "-distinct").split(",")
        aggs.append("count(distinct (" + ", ".join(cols) + ")) as distinct")
    sql = f"select {', '.join(gsel + aggs)} from ev where {w}"
    if gby:
        sql += " group by all"
        sort = _flag(argv, "-sort") or "count"
        sql += f" order by {sort} desc, {', '.join(gby)} limit {limit}"
    return sql


class SybilQueries(Workload):
    """Read-only dashboard traffic over one digested table."""
    name = "sybil_queries"
    #: rows in the table: 2 full 65,536-row blocks
    ROWS = {"full": 2 * 65_536, "tiny": 4_000}
    #: warm pass wall time on 4 cores; timed passes = seconds / this
    PASS_S = 5.5

    def __init__(self, ctx):
        self.ctx = ctx
        self.db = os.path.join(ctx.tmp, "db")
        rng = random.Random(0)  # the op sequence is the same every seed
        names = list(SHAPES)
        rng.shuffle(names)
        self.ops = []
        for i, n in enumerate(names):
            lo = data.T_START + (i * 5 % 29) * DAY
            hi = lo + 21 * DAY + (i % 3) * 3_600
            self.ops.append(Op(f"{i:02d}:{n}", "query", (n, lo, hi)))

    def inputs(self):
        import pyarrow.parquet as pq
        self.rows = data.uptime_rows(self.ctx.seed, self.ROWS[self.ctx.size])
        self.src = os.path.join(self.ctx.tmp, "uptime.parquet")
        pq.write_table(self.rows, self.src)

    def setup(self, spark):
        from sybil_spark import cli
        from sybil_spark.sources import compact, ingest
        from sybil_spark.table import Table
        t = Table(self.db, "uptime")
        ingest.ingest_df(spark.read.parquet(self.src), t, time_col="time",
                         auto_digest=False)
        compact.digest(spark, t)
        parser = cli.build_parser()
        for op in self.ops:
            n, lo, hi = op.arg
            argv = ["query", "-dir", self.db, "-table", "uptime",
                    *SHAPES[n], "-int-filter", f"time:ge:{lo}",
                    "-int-filter", f"time:lt:{hi}"]
            op.args = parser.parse_args(argv)

    def run_op(self, spark, tr, op, pass_no):
        from sybil_spark import cli
        from sybil_spark.query import printer
        with tr.span("plan"):
            df = cli.run_query(spark, op.args)
        with tr.span("exec") as s:
            rows = printer.rows_to_json(df, cli._split(op.args.group))
            s["rows"] = len(rows)
        return rows

    def check(self, results: dict) -> dict:
        import duckdb
        con = duckdb.connect()
        con.register("ev", self.rows)
        bad = {}
        for op in self.ops:
            if op.name not in results:
                continue
            n, lo, hi = op.arg
            want = con.execute(duck_sql(SHAPES[n], lo, hi)).df()
            want = [{k: v.tolist() if hasattr(v, "tolist") else v
                     for k, v in r.items()}
                    for r in want.to_dict("records")]
            if self.ctx.corrupt and op is self.ops[0]:
                want[0] = {k: (v + 1 if isinstance(v, int) else v)
                           for k, v in want[0].items()}
            why = rows_match(results[op.name], want)
            if why:
                bad[op.name] = why
        return bad


# ---------------------------------------------------------------------
# ingest_digest
# ---------------------------------------------------------------------

class IngestDigest(Workload):
    """Seeded NDJSON batches through ingest + auto-digest, with
    read-after-write `-read-log` queries in between."""
    name = "ingest_digest"
    #: batches per pass and rows per batch: four batches (~2.4 MB of
    #: landing parquet at ~44 B/row) pass the 2 MB auto-digest
    #: threshold and three (~1.8 MB) do not, so every fourth write
    #: digests and the median write is a plain one
    BATCHES = {"full": 12, "tiny": 6}
    ROWS = {"full": 13_500, "tiny": 500}
    #: a read-after-write query after the second batch of each digest
    #: cycle, while the landing log is non-empty
    READ_EVERY = 4
    PASS_S = 10.0

    def __init__(self, ctx):
        self.ctx = ctx
        nb = self.BATCHES[ctx.size]
        self.ops = []
        for b in range(nb):
            self.ops.append(Op(f"write{b:02d}", "write", b))
            if b % self.READ_EVERY == 1:
                self.ops.append(Op(f"read{b:02d}", "read", b))
        #: per pass: [table, batches generated, auto-digests]
        self.passes = []

    def inputs(self):
        self.files = data.ndjson_batches(
            self.ctx.seed, os.path.join(self.ctx.tmp, "ndjson"),
            self.BATCHES[self.ctx.size], self.ROWS[self.ctx.size])

    def setup(self, spark):
        from sybil_spark import cli
        self.parser = cli.build_parser()

    def begin_pass(self, pass_no):
        from sybil_spark.table import Table
        self.table = Table(os.path.join(self.ctx.tmp, f"db{pass_no}"),
                           "events")
        self.passes.append([self.table, 0, 0])
        self.read_args = self.parser.parse_args(
            ["query", "-dir", self.table.db_dir, "-table", "events",
             "-read-log", "-group", "status"])

    def run_op(self, spark, tr, op, pass_no):
        from sybil_spark import cli
        from sybil_spark.query import printer
        from sybil_spark.sources import ingest
        t = self.table
        if op.kind == "read":
            with tr.span("plan"):
                df = cli.run_query(spark, self.read_args)
            with tr.span("exec") as s:
                rows = printer.rows_to_json(df, ["status"])
                s["rows"] = len(rows)
            return rows
        self.passes[-1][1] += 1
        with tr.span("ingest") as s:
            before = dir_stats(t.ingest_path) if tr.active else (0, 0)
            n = ingest.ingest_df(spark.read.json(self.files[op.arg]), t,
                                 time_col="time", auto_digest=False)
            if tr.active:
                after = dir_stats(t.ingest_path)
                s["files_written"] = after[0] - before[0]
                s["bytes_written"] = after[1] - before[1]
        with tr.span("maybe_digest"):
            self.passes[-1][2] += ingest.maybe_digest(spark, t) > 0
        return n

    def end_pass(self, spark):
        from sybil_spark.sources import compact
        compact.digest(spark, self.table)

    def check(self, results: dict) -> dict:
        bad = {}
        rows = self.ROWS[self.ctx.size]
        for op in self.ops:
            r = results.get(op.name)
            if r is None:
                continue
            if op.kind == "write":
                if r != rows:
                    bad[op.name] = f"wrote {r} rows, generated {rows}"
            else:
                got = sum(x["count"] for x in r)
                want = rows * (op.arg + 1)
                if self.ctx.corrupt and op.name == "read01":
                    want += 1
                if got != want:
                    bad[op.name] = f"read {got} rows after writing {want}"
        spark = self.ctx.spark
        for p, (t, batches, digests) in enumerate(self.passes):
            if p and self.ctx.size == "full" and digests < 3:
                bad[f"digests:pass{p}"] = f"{digests} auto-digests, not >= 3"
            n = t.read(spark, read_log=True).count()
            meta = t.load_meta().row_count
            if not n == meta == rows * batches:
                bad[f"rows:pass{p}"] = (f"generated {rows * batches}, table"
                                        f" {n}, meta.row_count {meta}")
        import duckdb
        got = dict(self.table.read(spark).groupBy("host")
                   .agg({"ping": "sum"}).collect())
        files = ", ".join(f"'{f}'" for f in self.files)
        want = dict(duckdb.sql(
            f"select host, sum(ping) from read_json_auto([{files}]) "
            "group by host").fetchall())
        if got != want:
            bad["sum_ping_by_host"] = f"{got} != {want}"
        return bad

    def extra_metrics(self, ops):
        writes = [o for o in ops if o["kind"] == "write" and o["ok"]]
        reads = [o for o in ops if o["kind"] == "read" and o["ok"]]
        rows = self.ROWS[self.ctx.size]
        t, batches, _ = self.passes[-1]
        import statistics
        return {
            "rows_per_s": (rows * len(writes) / sum(o["lat"] for o in writes),
                           "rows/s"),
            "read_p50_s": (statistics.median(o["lat"] for o in reads), "s"),
            "disk_bytes_per_row": (dir_stats(t.path)[1] / (rows * batches),
                                   "B/row"),
        }


# ---------------------------------------------------------------------
# corpus_ops
# ---------------------------------------------------------------------

class CorpusOps(Workload):
    """Training-data operators of the headline corpus over seeded
    documents / embeddings / lineitem tables."""
    name = "corpus_ops"
    OPS = ["dedup_clusters", "embedding_dup", "ann_topk", "token_freq",
           "weighted_percentile", "tpch_q1"]
    SIZES = {"full": dict(docs=1000, vectors=500, lineitems=60_000),
             "tiny": dict(docs=200, vectors=100, lineitems=6_000)}
    PASS_S = 6.0
    #: after one cold pass the first timed pass still ran ~8% slower
    #: than the next, and its dedup_clusters call was the run's slowest
    #: op at twice the spread of a warmed one
    WARM_PASSES = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = os.path.join(ctx.tmp, "corpus")
        self.ops = [Op(n, "query", n) for n in self.OPS]

    def inputs(self):
        data.corpus_tables(self.ctx.seed, self.dir,
                           **self.SIZES[self.ctx.size])

    def run_op(self, spark, tr, op, pass_no):
        from sybil_spark.corpus import QUERIES
        from sybil_spark.operators._util import cache_scope
        with cache_scope():
            with tr.span("plan"):
                df = QUERIES[op.arg](spark, self.dir)
            with tr.span("exec") as s:
                pdf = df.toPandas()
                s["rows"] = len(pdf)
        return pdf

    def check(self, results: dict) -> dict:
        import duckdb
        from tools.check import normalize, values_equal
        from sybil_spark.corpus import ORACLES
        con = duckdb.connect()
        for t in ("documents", "embeddings", "lineitem"):
            con.execute(f"create view {t} as select * from "
                        f"'{self.dir}/{t}.parquet'")
        bad = {}
        for op in self.ops:
            if op.name not in results:
                continue
            want = con.execute(ORACLES[op.arg]).df()
            if self.ctx.corrupt and op is self.ops[-1]:
                want = want.iloc[1:]
            scols, skinds, srows = normalize(results[op.name])
            dcols, dkinds, drows = normalize(want)
            if (scols, skinds) != (dcols, dkinds):
                bad[op.name] = f"columns {scols}{skinds} != {dcols}{dkinds}"
            elif len(srows) != len(drows):
                bad[op.name] = f"{len(srows)} rows != {len(drows)}"
            else:
                for sr, dr in zip(srows, drows):
                    diff = [(a, b) for a, b in zip(sr, dr)
                            if not values_equal(a, b)]
                    if diff:
                        bad[op.name] = f"{diff[0][0]!r} != {diff[0][1]!r}"
                        break
        return bad



WORKLOADS = {w.name: w for w in (SybilQueries, IngestDigest, CorpusOps)}
