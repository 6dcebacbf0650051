"""Output checks, computed independently of Spark.

Expected results come from DuckDB over the generated input files, with
the benchmark's own copy of the rules evaluated by DuckDB's regex engine
(RE2) instead of Java's. Actual results are the job's collected rows or
the files it wrote, read back with DuckDB. Each check returns a list of
mismatch descriptions; an empty list means the output is correct.
"""

from __future__ import annotations

import duckdb

WEB = ("httpd_access_log", "nginx_access_log")


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class TokenOracle:
    """DuckDB view of the token table with the parse the pipeline does:
    event_type by first matching rule, http_status / syslog_prival from
    the matching rule's group, status_class from the map, sink by
    event_type."""

    def __init__(self, tokens_dir: str, rules: list[tuple[str, str, dict]],
                 status_map: dict[str, str], threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        when = " ".join(f"WHEN regexp_matches(line, {_lit(p)}) THEN {_lit(n)}"
                        for n, p, _ in rules)

        def field(name: str) -> str:
            arms = " ".join(
                f"WHEN {_lit(n)} THEN regexp_extract(line, {_lit(p)}, {g[name]})"
                for n, p, g in rules if name in g)
            return f"CASE event_type {arms} END"

        smap = " ".join(f"WHEN {_lit(k)} THEN {_lit(v)}"
                        for k, v in status_map.items())
        self.con.execute(f"""
            CREATE VIEW src AS SELECT doc_id, tokens, n_tok,
              array_to_string(list_transform(tokens, x -> chr(x)), '') AS line
            FROM read_parquet('{tokens_dir}/*.parquet')""")
        self.con.execute(f"""
            CREATE TABLE expected AS
            WITH t AS (SELECT *, CASE {when} ELSE 'Unknown' END AS event_type
                       FROM src),
                 f AS (SELECT *, {field('http_status')} AS http_status,
                              {field('syslog_prival')} AS syslog_prival
                       FROM t)
            SELECT doc_id, tokens, n_tok, event_type, http_status,
                   syslog_prival,
                   CASE http_status {smap} END AS status_class,
                   CASE WHEN event_type IN {WEB} THEN 'web'
                        WHEN event_type = 'iptables_log' THEN 'firewall'
                        ELSE 'unmatched' END AS sink
            FROM f""")
        self._sinks: dict | None = None

    # row identity per sink: the fields that routing and parsing decide
    _KEYS = {
        "web": "doc_id || '|' || event_type || '|' || http_status || '|' "
               "|| coalesce(status_class, '')",
        "firewall": "doc_id || '|' || event_type || '|' || syslog_prival",
        "unmatched": "doc_id || '|' || n_tok",
    }

    def _summary(self, relation: str, sink: str) -> tuple:
        return self.con.execute(f"""
            SELECT count(*), coalesce(sum(n_tok), 0)::BIGINT,
                   coalesce(sum(hash({self._KEYS[sink]})::HUGEINT), 0)
            FROM {relation}""").fetchone()

    def sink_summaries(self) -> dict[str, tuple]:
        """Expected (rows, sum(n_tok), row-set hash) per sink."""
        if self._sinks is None:
            self._sinks = {s: self._summary(
                f"(SELECT * FROM expected WHERE sink = '{s}')", s)
                for s in self._KEYS}
        return self._sinks

    def check_routed(self, out: str) -> list[str]:
        """Per-sink rows, sum(n_tok) and row-set hash of a routed write
        under ``out``, plus token-array equality per doc_id."""
        want = self.sink_summaries()
        actual = {
            "web": f"read_parquet('{out}/web/*/*.parquet', "
                   "hive_partitioning = true)",
            "firewall": f"read_parquet('{out}/firewall/*.parquet')",
            "unmatched": f"read_csv('{out}/unmatched/*.gz', delim = ' ', "
                         "header = false, columns = {'doc_id': 'VARCHAR', "
                         "'n_tok': 'BIGINT'})",
        }
        errors = []
        try:
            for sink, rel in actual.items():
                got = self._summary(rel, sink)
                if got != want[sink]:
                    errors.append(f"sink {sink}: rows/tokens/hash {got} != "
                                  f"{want[sink]}")
            same, carried = self.con.execute(f"""
                WITH o AS (SELECT doc_id, tokens FROM {actual['web']}
                           UNION ALL
                           SELECT doc_id, tokens FROM {actual['firewall']})
                SELECT count(*) FILTER (WHERE o.tokens = e.tokens), count(*)
                FROM o JOIN expected e USING (doc_id)""").fetchone()
        except duckdb.Error as exc:
            return errors + [f"unreadable output: {exc}"]
        carriers = want["web"][0] + want["firewall"][0]
        if not same == carried == carriers:
            errors.append(f"token arrays: {same} equal of {carried} joined, "
                          f"{carriers} expected")
        return errors

    def close(self) -> None:
        self.con.close()


def shingles(text: str, n: int = 3) -> set[str]:
    words = text.split()
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def check_pairs(pairs: list[tuple], text: dict[str, str],
                threshold: float) -> list[str]:
    """Every reported (id_a, id_b, jaccard) has exact 3-gram Jaccard at
    or above ``threshold``, equal to the reported value."""
    errors = []
    for a, b, reported in pairs:
        exact = jaccard(shingles(text[a]), shingles(text[b]))
        if exact < threshold or abs(exact - reported) > 1e-6:
            errors.append(f"pair ({a}, {b}): jaccard {reported} reported, "
                          f"{exact:.6f} exact")
    return errors[:5]


def keep_best(ids: list[str], pairs: list[tuple],
              score: dict[str, int]) -> set[str]:
    """Reference keep set: union-find over the pairs, one winner per
    component (highest score, then lowest id), unpaired ids kept."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best: dict[str, str] = {}
    for x in {p for a, b, _ in pairs for p in (a, b)}:
        r = find(x)
        cur = best.get(r)
        if cur is None or (-score[x], x) < (-score[cur], cur):
            best[r] = x
    losers = {x for a, b, _ in pairs for x in (a, b)} - set(best.values())
    return set(ids) - losers
