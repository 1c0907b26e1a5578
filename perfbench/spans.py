"""Spans around the calls the benchmark makes into each layer, and the
Spark job/stage/SQL statistics of every job those calls run.

Tracing is benchmark-side only: `Tracer.install()` wraps a few public
functions of the engine (Table.read, query_cache.plan, compact.digest,
DataFrame.collect/toPandas) from this file, and every child span sets
its own Spark job group, so each job is charged to the span that
caused it. Spans stay in memory; `Tracer.collect()` reads Spark's
status store once the passes are over.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time

#: SQL plan nodes that evaluate Python (pandas/Arrow UDFs, mapInPandas,
#: applyInPandas, Python UDTFs ...)
PY_NODE = re.compile(r"Python|Pandas|InArrow")

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_MB = float(1 << 20)


def _metric_total(text: str) -> float:
    """Total of one formatted SQL metric: '1,000' or
    'total (min, med, max ...)\\n8.5 KiB (...)'."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B")


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, ignoring _/. markers."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Tracer:
    active = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: list[dict] = []
        self._op: dict | None = None
        self._seq = 0
        self._undo: list = []

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str, pass_no: int):
        rec = {"id": f"op{len(self.ops)}", "name": name, "pass": pass_no,
               "spans": [], "t0": time.time()}
        self.ops.append(rec)
        self._op = rec
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._op = None

    @contextlib.contextmanager
    def span(self, kind: str, **attrs):
        """Child span of the current op; its Spark jobs land in a job
        group of their own. Outside an op it is a no-op."""
        if self._op is None:
            yield {}
            return
        self._seq += 1
        group = f"{self._op['id']}/{kind}/{self._seq}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, group)
        rec = {"kind": kind, "group": group, "t0": time.time(), **attrs}
        self._op["spans"].append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)

    # -- layer wrappers ----------------------------------------------
    def _wrap(self, owner, attr, make):
        own = attr in vars(owner)
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig if own else None))

    def install(self) -> None:
        from sybil_spark import table as table_mod
        from sybil_spark.sources import compact, query_cache

        tr = self

        def read(orig):
            def wrapped(t, spark, read_log=False):
                with tr.span("table") as s:
                    s["files_listed"] = dir_stats(t.blocks_path)[0]
                    s["log_files_read"] = (dir_stats(t.ingest_path)[0]
                                           if read_log else 0)
                    s["files_listed"] += s["log_files_read"]
                    return orig(t, spark, read_log=read_log)
            return wrapped

        def plan(orig):
            def wrapped(*a, **kw):
                with tr.span("cache_plan") as s:
                    p = orig(*a, **kw)
                    s["hits"], s["misses"] = len(p.hits), len(p.misses)
                    return p
            return wrapped

        def digest(orig):
            def wrapped(spark, table, *a, **kw):
                with tr.span("digest") as s:
                    s["bytes_rewritten"] = dir_stats(table.ingest_path)[1]
                    before = dir_stats(table.blocks_path)[0]
                    n = orig(spark, table, *a, **kw)
                    s["blocks"] = dir_stats(table.blocks_path)[0] - before
                    return n
            return wrapped

        def fetch(orig):
            def wrapped(df, *a, **kw):
                op = tr._op
                out = orig(df, *a, **kw)
                if op is not None:
                    op["fetched_at"] = time.time()
                return out
            return wrapped

        self._wrap(table_mod.Table, "read", read)
        self._wrap(query_cache, "plan", plan)
        self._wrap(compact, "digest", digest)
        for attr in ("collect", "toPandas"):
            self._wrap(type(self.spark.range(1)), attr, fetch)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- status store ------------------------------------------------
    def _wait_finished(self, job_ids: list[int], timeout: float = 60.0):
        """The status listener is asynchronous: wait until it has
        recorded every job (and its SQL execution) as finished."""
        store = self.sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        deadline = time.time() + timeout
        pending = set(job_ids)
        while pending and time.time() < deadline:
            for j in list(pending):
                try:
                    if store.job(j).completionTime().isDefined():
                        pending.discard(j)
                except Exception:
                    pass
            if pending:
                time.sleep(0.05)
        while time.time() < deadline:
            running = [e for e in _seq(sql.executionsList())
                       if not e.completionTime().isDefined()]
            if not running:
                break
            time.sleep(0.05)

    def collect(self, jobs_before: int) -> dict:
        """Attach job statistics to every span; return run totals.
        `jobs_before` is the highest job id that ran before the
        traced passes — any later job without one of our groups is
        unattributed."""
        tracker = self.sc.statusTracker()
        all_groups = [s["group"] for op in self.ops for s in op["spans"]]
        jobs_of = {g: sorted(tracker.getJobIdsForGroup(g))
                   for g in all_groups}
        every = [j for js in jobs_of.values() for j in js]
        loose = [j for j in tracker.getJobIdsForGroup(None)
                 if j > jobs_before]
        self._wait_finished(every + loose)
        store = self.sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        exec_of_job = {}
        for e in _seq(sql.executionsList()):
            for j in _seq(e.jobs().keys()):
                exec_of_job[int(j)] = e.executionId()
        py_done: set[int] = set()
        for op in self.ops:
            for s in op["spans"]:
                s["jobs"] = [self._job(store, j)
                             for j in jobs_of.get(s["group"], [])]
            execs = {exec_of_job[j["id"]] for s in op["spans"]
                     for j in s["jobs"] if j["id"] in exec_of_job}
            op["py"] = self._python_metrics(sql, execs - py_done)
            py_done |= execs
        return {"unattributed_jobs": len(loose),
                "attributed_jobs": len(every)}

    def _job(self, store, job_id: int) -> dict:
        jd = store.job(job_id)
        t0 = jd.submissionTime().get().getTime() / 1000.0
        done = jd.completionTime()
        t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
        stages = []
        for sid in _seq(jd.stageIds()):
            try:
                sd = store.lastStageAttempt(int(sid))
            except Exception:
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            stages.append({
                "id": int(sid), "attempt": sd.attemptId(),
                "tasks": sd.numCompleteTasks(),
                "task_s": sd.executorRunTime() / 1000.0,
                "gc_s": sd.jvmGcTime() / 1000.0,
                "shuffle_write": sd.shuffleWriteBytes(),
                "shuffle_read": sd.shuffleReadBytes(),
                "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "python": self._has_python(store, int(sid)),
            })
        return {"id": job_id, "t0": t0, "t1": t1, "stages": stages}

    @staticmethod
    def _has_python(store, stage_id: int) -> bool:
        def names(c):
            yield c.name()
            for k in _seq(c.childClusters()):
                yield from names(k)
        try:
            g = store.operationGraphForStage(stage_id)
        except Exception:
            return False
        return any(PY_NODE.search(n) for n in names(g.rootCluster()))

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        store = self.sc._jsc.sc().statusStore()
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        d = store.taskSummary(stage["id"], stage["attempt"], q)
        if not d.isDefined():
            return 1.0
        rt = d.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

    @staticmethod
    def _python_metrics(sql, exec_ids) -> dict:
        out = {"rows": 0.0, "sent": 0.0, "received": 0.0}
        for eid in exec_ids:
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                if not PY_NODE.search(node.name()):
                    continue
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    key = {"number of output rows": "rows",
                           "data sent to Python workers": "sent",
                           "data returned from Python workers":
                               "received"}.get(m.name())
                    if key:
                        out[key] += _metric_total(v.get())
        return out

    # -- per-layer metrics -------------------------------------------
    def layer_metrics(self, passes: int) -> dict[str, tuple[float, str]]:
        """Per-pass totals over the traced ops (ratios and skew are
        over the whole traced run)."""
        tot: dict[str, float] = {}

        def add(k, v):
            tot[k] = tot.get(k, 0.0) + v

        skews = []
        for op in self.ops:
            spans = op["spans"]
            jobs = [j for s in spans for j in s["jobs"]]
            stages = [st for j in jobs for st in j["stages"]]
            for s in spans:
                dur = s["t1"] - s["t0"]
                jwall = sum(j["t1"] - j["t0"] for j in s["jobs"])
                if s["kind"] == "table":
                    add("table.read_s", dur)
                    add("table.files_listed", s["files_listed"])
                    add("table.log_files_read", s["log_files_read"])
                elif s["kind"] == "cache_plan":
                    add("query_cache.hits", s["hits"])
                    add("query_cache.misses", s["misses"])
                elif s["kind"] == "plan":
                    nested = sum(c["t1"] - c["t0"] for c in spans
                                 if c["kind"] in ("table", "cache_plan")
                                 and s["t0"] <= c["t0"] <= s["t1"])
                    add("builder.plan_s", max(0.0, dur - jwall - nested))
                    add("builder.plan_jobs", len(s["jobs"]))
                    add("builder.plan_jobs_s", jwall)
                elif s["kind"] == "exec":
                    rows = s.get("rows", 0)
                    last_end = max((j["t1"] for j in s["jobs"]),
                                   default=s["t0"])
                    fetched = op.get("fetched_at", s["t1"])
                    add("printer.fetch_s", max(0.0, fetched - last_end))
                    add("printer.shape_s", max(0.0, s["t1"] - fetched))
                    add("printer.result_rows", rows)
                elif s["kind"] == "ingest":
                    add("ingest.call_s", dur)
                    add("ingest.files_written", s["files_written"])
                    add("ingest.bytes_written", s["bytes_written"])
                elif s["kind"] == "digest":
                    add("compact.digests", 1)
                    add("compact.digest_s", dur)
                    add("compact.bytes_rewritten", s["bytes_rewritten"])
                    add("compact.blocks", s["blocks"])
            add("exec.jobs", len(jobs))
            add("exec.stages", len(stages))
            add("exec.tasks", sum(st["tasks"] for st in stages))
            add("exec.wall_s", sum(j["t1"] - j["t0"] for j in jobs))
            add("exec.task_s", sum(st["task_s"] for st in stages))
            add("exec.gc_s", sum(st["gc_s"] for st in stages))
            add("exec.shuffle_write_mb",
                sum(st["shuffle_write"] for st in stages) / _MB)
            add("exec.shuffle_read_mb",
                sum(st["shuffle_read"] for st in stages) / _MB)
            add("exec.spill_mb", sum(st["spill"] for st in stages) / _MB)
            add("operators.py_task_s",
                sum(st["task_s"] for st in stages if st["python"]))
            add("operators.py_rows", op["py"]["rows"])
            add("operators.py_bytes_out_mb", op["py"]["sent"] / _MB)
            add("operators.py_bytes_in_mb", op["py"]["received"] / _MB)
            if stages:
                longest = max(stages, key=lambda st: st["task_s"])
                if longest["tasks"] > 1:
                    skews.append(self.task_skew(longest))
        out = {k: v / passes for k, v in tot.items()}
        looked = tot.get("query_cache.hits", 0) + tot.get(
            "query_cache.misses", 0)
        out["query_cache.hit_ratio"] = (
            tot.get("query_cache.hits", 0) / looked if looked else 0.0)
        out["exec.task_skew"] = statistics.median(skews) if skews else 1.0
        return {k: (out.get(k, 0.0), unit) for k, unit in LAYER_UNITS.items()}


#: every per-layer metric the traced run reports, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "table.read_s": "s", "table.files_listed": "count",
    "table.log_files_read": "count",
    "builder.plan_s": "s", "builder.plan_jobs": "count",
    "builder.plan_jobs_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.wall_s": "s", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.task_skew": "ratio",
    "operators.py_rows": "count", "operators.py_bytes_out_mb": "MB",
    "operators.py_bytes_in_mb": "MB", "operators.py_task_s": "s",
    "printer.fetch_s": "s", "printer.shape_s": "s",
    "printer.result_rows": "count",
    "query_cache.hits": "count", "query_cache.misses": "count",
    "query_cache.hit_ratio": "ratio",
    "ingest.call_s": "s", "ingest.files_written": "count",
    "ingest.bytes_written": "B",
    "compact.digests": "count", "compact.digest_s": "s",
    "compact.bytes_rewritten": "B", "compact.blocks": "count",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s", "trace.unattributed_jobs": "count",
    "trace.attributed_jobs": "count",
}


def _seq(s):
    """Iterate a Scala Seq/Iterable through py4j."""
    it = s.iterator()
    while it.hasNext():
        yield it.next()
