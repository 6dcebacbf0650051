"""Per-layer measurement from outside the library (``--trace 1``).

Three sources, all read from the benchmark side:

- spans around the eager public functions (``Tracer``): the module
  attribute is swapped for a timing wrapper, which also catches calls the
  library makes internally (``router`` calling ``checkpoint.commit``);
- prefix deltas for the lazy layers (``probes``): the least wall, over
  freshly built plans, of scan → noop, then scan + one more layer → noop,
  and so on; a layer's time is the difference of neighbouring prefixes;
- Spark's own accounting per job group: task metrics of the completed
  stages from the status store, SQL plan metrics of the job's executions,
  and JVM GC time from the garbage-collector MXBeans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import statistics
import time

PREFIX_REPS = 2


def _seq(s) -> list:
    """A Scala Seq over py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def stage_metrics(spark, group: str) -> dict:
    """Task metrics summed over the completed stages of a job group, from
    the status store (kept with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, input_bytes=0, shuffle_write=0,
               shuffle_read=0, spill=0, gc_ms=0)
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        for sid in _seq(store.job(jid).stageIds()):
            for st in _seq(store.stageData(sid, False, None, False, None)):
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["shuffle_read"] += st.shuffleReadBytes()
                out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["gc_ms"] += st.jvmGcTime()
    return out


_METRIC = re.compile(r"([\d,]+(?:\.\d+)?)(?: (B|KiB|MiB|GiB|TiB|ms|s|m|min|h)\b)?")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A formatted SQL metric ('1,234', '12.5 MiB', or the
    'total (min, med, max ...)\\n90 ms (...)' form) in bytes, seconds or
    a plain count."""
    m = _METRIC.search(text.strip().split("\n")[-1])
    if m is None:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS[m.group(2)] if m.group(2) else number


def sql_metrics(spark, since: int) -> dict:
    """Plan metrics of the SQL executions with id >= ``since``, summed
    per layer: scan nodes, Python (Arrow) nodes, partial and final
    aggregates."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict(scan_nodes=0, scan_bytes=0.0, scan_task_s=0.0, to_python=0.0,
               from_python=0.0, python_task_s=0.0, agg_partial_s=0.0,
               agg_final_s=0.0)
    total = store.executionsCount()
    for ex in _seq(store.executionsList(since, max(total - since, 0) + 100)):
        eid = ex.executionId()
        if eid < since:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            name = node.name()
            metrics = {}
            for m in _seq(node.metrics()):
                acc = m.accumulatorId()
                if values.contains(acc):
                    metrics[m.name()] = metric_value(values.apply(acc))
            if name.startswith("Scan"):
                out["scan_nodes"] += 1
                out["scan_bytes"] += metrics.get("size of files read", 0.0)
                out["scan_task_s"] += metrics.get("scan time", 0.0)
            out["python_task_s"] += metrics.get("time to run Python workers",
                                                0.0)
            out["to_python"] += metrics.get("data sent to Python workers", 0.0)
            out["from_python"] += metrics.get(
                "data returned from Python workers", 0.0)
            if name == "HashAggregate" or name == "ObjectHashAggregate":
                key = ("agg_partial_s" if "partial_" in node.desc()
                       else "agg_final_s")
                out[key] += metrics.get("time in aggregation build", 0.0)
    return out


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Tracer:
    """Spans (name, start, end, parent, job) kept in memory. ``install``
    swaps the eager public functions for wrappers that record a span
    while ``enabled`` is set."""

    KEEP_RESULT = {"router.route_and_write", "checkpoint.partition_lineage"}

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True
        self.job: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "job": self.job}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if name in self.KEEP_RESULT and rec:
                    rec["result"] = out
                return out

        setattr(module, attr, wrapper)

    def install(self) -> None:
        from lumbermill_spark import checkpoint, pipeline, router, session
        from lumbermill_spark.training import dedup

        for module, attr, name in [
            (session, "get_spark", "session.get_spark"),
            (pipeline, "compile_pipeline", "pipeline.compile"),
            # pipeline.py binds route_and_write at import: swap both names
            (router, "route_and_write", "router.route_and_write"),
            (pipeline, "route_and_write", "router.route_and_write"),
            (checkpoint, "commit", "checkpoint.commit"),
            (checkpoint, "partition_lineage", "checkpoint.partition_lineage"),
            (dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
            (dedup, "connected_components", "dedup.connected_components"),
            (dedup, "dedup_keep_best", "dedup.dedup_keep_best"),
        ]:
            self.wrap(module, attr, name)

    def durations(self, name: str, job=None, any_job: bool = False) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (any_job or s["job"] == job)]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == idx)
        return s["end"] - s["start"] - kids

    def write(self, path: str, extra: dict) -> None:
        spans = [{k: v for k, v in s.items() if k != "result"}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


# --------------------------------------------------------------------- #
# prefix probes

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def best(spark, name: str, action) -> dict:
    """Least wall over ``PREFIX_REPS`` runs of ``action`` (which builds a
    fresh plan each time), with the stage metrics of the fastest run."""
    sc = spark.sparkContext
    runs = []
    for r in range(PREFIX_REPS):
        group = f"probe-{name}-{r}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        action()
        runs.append((time.perf_counter() - t0, group))
    wall, group = min(runs)
    time.sleep(0.2)
    return {"s": wall, **stage_metrics(spark, group)}


def probes_routed(spark, wl) -> dict:
    import yaml

    from lumbermill_spark import pipeline
    from lumbermill_spark.functions.tokens import decode_tokens_arrow

    stages = yaml.safe_load(wl.spec)["pipeline"]

    def upto(k: int):
        return pipeline.compile_pipeline(spark, stages[:k]).dataframe()

    # stages: input, salted repartition, regex, modifier.Field, prival
    return {
        "scan": best(spark, "scan", lambda: _noop(upto(1))),
        "skew": best(spark, "skew", lambda: _noop(upto(2))),
        "decode": best(spark, "decode", lambda: _noop(decode_tokens_arrow(
            upto(2), "tokens", out_col="_line"))),
        "parse": best(spark, "parse", lambda: _noop(upto(3))),
        "enrich": best(spark, "enrich", lambda: _noop(upto(5))),
    }


def probes_dedup(spark, wl) -> dict:
    return {
        "scan": best(spark, "scan", lambda: _noop(
            spark.read.parquet(wl.input_dir))),
        "lsh": best(spark, "lsh", lambda: _noop(wl.pairs(spark))),
        "pairs": wl.pairs(spark).count(),
        "candidates": wl.pairs(spark, threshold=0.0).count(),
    }


def pair_plan_runs(runner, n_pairs: int) -> float:
    """Run one job with the pair DataFrame passed through a counting
    Arrow map: rows seen ÷ pairs = how often the pair plan executes."""
    from lumbermill_spark.training import dedup

    spark = runner.spark
    acc = spark.sparkContext.accumulator(0)
    orig = dedup.minhash_lsh_pairs

    def count_rows(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    def counted(*args, **kwargs):
        pairs = orig(*args, **kwargs)
        return pairs.mapInArrow(count_rows, pairs.schema)

    dedup.minhash_lsh_pairs = counted
    try:
        runner.job("probe")
    finally:
        dedup.minhash_lsh_pairs = orig
    return acc.value / n_pairs if n_pairs else 0.0


# --------------------------------------------------------------------- #

def _dir_bytes(path: str, skip: str = "_checkpoint") -> tuple[int, int]:
    size = files = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != skip]
        for f in filenames:
            if not f.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, f))
                files += 1
    return size, files


def traced_job(runner) -> dict:
    """One job with the span wrappers switched on, and its per-layer
    record: GC time, stage and plan metrics, spans, bytes written."""
    spark, wl, tr = runner.spark, runner.wl, runner.tracer
    since = spark._jsparkSession.sharedState().statusStore().executionsCount()
    gc0 = gc_seconds(spark)
    tr.enabled = True
    try:
        rec = runner.job("traced")
    finally:
        tr.enabled = False
    gc = gc_seconds(spark) - gc0
    time.sleep(0.2)
    i = rec["i"]
    routed = [s for s in tr.spans
              if s["job"] == i and s["name"] == "router.route_and_write"]
    lineage = [s.get("result") or [] for s in tr.spans if s["job"] == i
               and s["name"] == "checkpoint.partition_lineage"]
    out = {
        "i": i, "wall": rec["wall"], "gc_s": gc,
        "stages": stage_metrics(spark, f"job{i}"),
        "sql": sql_metrics(spark, since),
        "router_self": sum(tr.self_time(tr.spans.index(s)) for s in routed),
        "write_s": sum(v.get("secs", 0.0) for s in routed
                       for v in s["result"].values()),
        "lineage": lineage,
        "out": _dir_bytes(wl.out(i)) if os.path.isdir(wl.out(i)) else (0, 0),
        "keep_best": sum(tr.durations("dedup.dedup_keep_best", i)),
        "cc": sum(tr.durations("dedup.connected_components", i)),
    }
    for name in ("checkpoint.commit", "checkpoint.partition_lineage"):
        out[name] = tr.durations(name, i)
    return out


def measure(runner, per_job: list[dict],
            untraced_wall: float) -> tuple[dict, dict]:
    """Per-layer metrics from the traced jobs' records and the workload's
    probes. Returns ``{name: (value, unit)}`` and extra ratios that apply
    only to some workloads."""
    spark, wl, tr = runner.spark, runner.wl, runner.tracer
    med = statistics.median
    traced_wall = med(j["wall"] for j in per_job)

    tr.job = None
    probes = {"routed_write": probes_routed,
              "dedup_curation": probes_dedup}[wl.name](spark, wl)
    p = {k: (v["s"] if isinstance(v, dict) else v) for k, v in probes.items()}

    def jm(fn):
        return med(fn(j) for j in per_job)

    scan_bytes = jm(lambda j: j["sql"]["scan_bytes"])
    written = jm(lambda j: j["out"][0]) if wl.name == "routed_write" else 0
    m = {
        "session.start_s": (tr.durations("session.get_spark", None)[0], "s"),
        "session.gc_s": (jm(lambda j: j["gc_s"]), "s"),
        "pipeline.compile_s": (med(tr.durations("pipeline.compile", any_job=True)
                                   or [0.0]), "s"),
        "pipeline.plan_s": (med(
            s["end"] - s["start"] - sum(
                c["end"] - c["start"] for c in tr.spans
                if c["parent"] == k and c["name"] == "pipeline.compile")
            for k, s in enumerate(tr.spans) if s["name"] == "pipeline.plan"),
            "s"),
        "scan.s": (p["scan"], "s"),
        "scan.bytes": (scan_bytes, "B"),
        "scan.passes": (jm(lambda j: j["sql"]["scan_nodes"]), "count"),
        "tokens.decode_s": (p.get("decode", p["scan"]) - p["scan"], "s"),
        "tokens.bytes_to_python": (jm(lambda j: j["sql"]["to_python"]), "B"),
        "tokens.bytes_from_python": (jm(lambda j: j["sql"]["from_python"]), "B"),
        "regex_parser.s": (p.get("parse", 0.0) - p.get("decode", 0.0), "s"),
        "enrich.s": (0.0, "s"),
        "skew.s": (0.0, "s"),
        "skew.exchange_bytes": (0, "B"),
        "agg.partial_s": (jm(lambda j: j["sql"]["agg_partial_s"]), "s"),
        "agg.final_s": (jm(lambda j: j["sql"]["agg_final_s"]), "s"),
        "exchange.bytes": (jm(lambda j: j["stages"]["shuffle_write"]), "B"),
        "spill.bytes": (jm(lambda j: j["stages"]["spill"]), "B"),
        "router.s": (0.0, "s"),
        "router.write_s": (jm(lambda j: j["write_s"]), "s"),
        "router.bytes_written": (written, "B"),
        "router.files_written": (jm(lambda j: j["out"][1])
                                 if wl.name == "routed_write" else 0, "count"),
        "router.out_bytes_per_in_byte": (written / scan_bytes
                                         if scan_bytes else 0.0, "ratio"),
        "checkpoint.commit_s": (jm(lambda j: sum(j["checkpoint.commit"])), "s"),
        "checkpoint.commits": (jm(lambda j: len(j["checkpoint.commit"])),
                               "count"),
        "checkpoint.lineage_s": (jm(lambda j: sum(
            j["checkpoint.partition_lineage"])), "s"),
        "checkpoint.lineage_calls": (jm(lambda j: len(
            j["checkpoint.partition_lineage"])), "count"),
        "dedup.lsh_s": (p.get("lsh", 0.0), "s"),
        "dedup.candidate_pairs": (p.get("candidates", 0), "count"),
        "dedup.pairs": (p.get("pairs", 0), "count"),
        "dedup.pair_plan_runs": (0.0, "count"),
        "dedup.cc_s": (jm(lambda j: j["cc"]), "s"),
        "dedup.keep_s": (0.0, "s"),
        "spark.jobs": (jm(lambda j: j["stages"]["jobs"]), "count"),
        "spark.stages": (jm(lambda j: j["stages"]["stages"]), "count"),
        "spark.tasks": (jm(lambda j: j["stages"]["tasks"]), "count"),
    }
    # cross-check of the prefix deltas: the same layers' task time as the
    # plan metrics of the traced jobs report it (summed over parallel tasks)
    extra = {"scan.task_s_sql": (jm(lambda j: j["sql"]["scan_task_s"]), "s"),
             "tokens.python_task_s_sql": (
                 jm(lambda j: j["sql"]["python_task_s"]), "s")}
    if wl.name == "routed_write":
        m["skew.s"] = (p["skew"] - p["scan"], "s")
        m["skew.exchange_bytes"] = (probes["skew"]["shuffle_write"], "B")
        m["tokens.decode_s"] = (p["decode"] - p["skew"], "s")
        m["enrich.s"] = (p["enrich"] - p["parse"], "s")
        m["router.s"] = (jm(lambda j: j["router_self"]) - p["enrich"], "s")
        rows: dict[int, int] = {}
        for part in per_job[-1]["lineage"]:
            for d in part:
                rows[d["partition_id"]] = rows.get(d["partition_id"], 0) + d["rows"]
        if rows:
            extra["skew.part_max_over_median"] = (
                max(rows.values()) / med(rows.values()), "ratio")
    else:
        m["tokens.decode_s"] = (0.0, "s")
        m["regex_parser.s"] = (0.0, "s")
        m["dedup.keep_s"] = (jm(lambda j: j["wall"] - j["keep_best"]), "s")
        m["dedup.pair_plan_runs"] = (pair_plan_runs(runner, p["pairs"]),
                                     "count")
        extra["dedup.pair_precision"] = (
            p["pairs"] / p["candidates"] if p["candidates"] else 0.0, "ratio")
    timed = ["scan.s", "tokens.decode_s", "regex_parser.s", "enrich.s",
             "skew.s", "router.s", "checkpoint.commit_s",
             "checkpoint.lineage_s", "dedup.lsh_s", "dedup.cc_s",
             "dedup.keep_s"]
    if wl.name == "dedup_curation":
        # the scan and the pair plan run inside the cc_s span and keep_s
        timed.remove("scan.s")
        timed.remove("dedup.lsh_s")
    # traced and untraced jobs alternate in one window (see run.py)
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    m["trace.unattributed_frac"] = (
        1.0 - sum(m[k][0] for k in timed) / traced_wall, "ratio")
    runner.trace_detail = {"per_job": [{k: v for k, v in j.items()
                                        if k != "lineage"} for j in per_job],
                           "probes": probes}
    return m, extra
