"""The workloads: inputs, set-up, one job, and the output check.

Every job builds its plan anew from the registered input, so no job can
reuse the shuffle files of an earlier one. The library is called through
its public API as a user would; ``session``, ``pipeline``, ``router``,
``checkpoint`` and ``training.dedup`` are reached through their module
attributes, so the traced run can swap them for timing wrappers.
"""

from __future__ import annotations

import os
import re

import yaml

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _spec_text() -> str:
    with open(os.path.join(HERE, "flagship.yaml")) as f:
        return f.read()


def _rules_and_map() -> tuple[list[dict], dict[str, str]]:
    """Rules and status map from the benchmark's own stage list."""
    stages = yaml.safe_load(_spec_text())["pipeline"]
    mods = [next(iter(s.items())) for s in stages]
    rules = next(cfg for n, cfg in mods
                 if n == "parser.Regex")["field_extraction_patterns"]
    status = next(cfg for n, cfg in mods if n == "modifier.Field")["map"]
    return rules, {str(k): v for k, v in status.items()}


def _oracle_rules(rules: list[dict]) -> list[tuple[str, str, dict]]:
    out = []
    for item in rules:
        (name, pattern), = item.items()
        out.append((name, pattern, dict(re.compile(pattern).groupindex)))
    return out


def _plan(df) -> None:
    """Plan without running: force the physical plan."""
    df._jdf.queryExecution().executedPlan()


class Workload:
    name = ""
    files = 8

    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed
        self.input_dir = os.path.join(run_dir, "input")
        self.out_dir = os.path.join(run_dir, "out")

    def out(self, job: int) -> str:
        return os.path.join(self.out_dir, f"job{job}")


class RoutedWrite(Workload):
    """The flagship stage list compiled with compile_pipeline and run:
    salted repartition, full regex parse, filtered modifier.Field map,
    syslog prival, three sinks with lineage and checkpoint commits."""

    name = "routed_write"
    rows = 6_000

    def generate(self) -> dict:
        return gen.write_tokens(self.seed, self.rows, self.input_dir, self.files)

    def setup(self, spark) -> None:
        from lumbermill_spark import pipeline

        self.rules, self.status_map = _rules_and_map()
        self.spec = _spec_text().replace("@TOKENS@", self.input_dir)
        _plan(pipeline.compile_pipeline(spark, self.spec).dataframe())

    def job(self, spark, i: int):
        from lumbermill_spark import pipeline

        pipe = pipeline.compile_pipeline(spark, self.spec)
        return pipe.run(self.out(i), run_id=f"job{i}")

    def checker(self, spark):
        oracle = check.TokenOracle(self.input_dir, _oracle_rules(self.rules),
                                   self.status_map)

        def verify(i, res):
            errors = oracle.check_routed(self.out(i))
            for sink, (rows, tokens, _) in oracle.sink_summaries().items():
                # a line_format sink has no n_tok column: tokens is None
                got = (res[sink]["rows"], res[sink]["tokens"])
                if got[0] != rows or got[1] not in (tokens, None):
                    errors.append(f"sink {sink}: reported {got}, "
                                  f"expected ({rows}, {tokens})")
            return errors

        return oracle, verify


class DedupCuration(Workload):
    """minhash_lsh_pairs → dedup_keep_best(order_col=n_chars), which runs
    connected_components; the kept ids are written, and the check reads
    them back."""

    name = "dedup_curation"
    rows = 2_000
    dup_frac = 0.2
    threshold = 0.5

    def generate(self) -> dict:
        return gen.write_docs(self.seed, self.rows, self.dup_frac,
                              self.input_dir, self.files)

    def setup(self, spark) -> None:
        _plan(self.pairs(spark))

    def pairs(self, spark, threshold: float | None = None):
        from lumbermill_spark.training import dedup

        docs = spark.read.parquet(self.input_dir)
        return dedup.minhash_lsh_pairs(
            docs, threshold=self.threshold if threshold is None else threshold)

    def job(self, spark, i: int):
        from lumbermill_spark.training import dedup

        docs = spark.read.parquet(self.input_dir)
        kept = dedup.dedup_keep_best(docs, self.pairs(spark),
                                     order_col="n_chars")
        kept.select("doc_id").write.mode("overwrite").parquet(self.out(i))

    def checker(self, spark):
        """Collects the pair set once (outside the timed window), checks
        every pair's exact Jaccard and derives the reference keep set."""
        import pyarrow.parquet as pq

        table = pq.read_table(self.input_dir).to_pydict()
        text = dict(zip(table["doc_id"], table["text"]))
        score = dict(zip(table["doc_id"], table["n_chars"]))
        pairs = [tuple(r) for r in self.pairs(spark).collect()]
        self.n_pairs = len(pairs)
        pair_errors = check.check_pairs(pairs, text, self.threshold)
        want = check.keep_best(table["doc_id"], pairs, score)

        def verify(i, res):
            got = set(pq.read_table(self.out(i)).column("doc_id").to_pylist())
            errors = list(pair_errors)
            if got != want:
                errors.append(f"kept {len(got)} ids, {len(got ^ want)} "
                              "differ from the reference keep set")
            return errors

        return None, verify


WORKLOADS = {w.name: w for w in (RoutedWrite, DedupCuration)}
