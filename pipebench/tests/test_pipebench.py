"""Self-tests of the benchmark: seeded generation and the output checks.

    python3 -m pytest pipebench/tests -q

No Spark: the routed-write layout is produced by DuckDB from the oracle's
own expected table, then damaged on purpose.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def _fp(tmp_path, name, write, *args):
    return write(*args, str(tmp_path / name), 2)


def test_token_table_is_deterministic_per_seed(tmp_path):
    a = _fp(tmp_path, "a", gen.write_tokens, 7, 3000)
    b = _fp(tmp_path, "b", gen.write_tokens, 7, 3000)
    c = _fp(tmp_path, "c", gen.write_tokens, 8, 3000)
    assert a == b
    assert a["sha256"] != c["sha256"]


def test_doc_table_is_deterministic_per_seed(tmp_path):
    a = _fp(tmp_path, "a", gen.write_docs, 7, 500, 0.2)
    b = _fp(tmp_path, "b", gen.write_docs, 7, 500, 0.2)
    c = _fp(tmp_path, "c", gen.write_docs, 8, 500, 0.2)
    assert a == b
    assert a["sha256"] != c["sha256"]


def test_source_mix_follows_the_library_corpus():
    src = gen.token_table(3, 20_000).column("source").to_pylist()
    for name, p in zip(gen.SOURCES, gen.SOURCE_P):
        assert abs(src.count(name) / len(src) - p) < 0.02


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = tmp_path_factory.mktemp("tok")
    gen.write_tokens(5, 2000, str(d / "input"), 2)
    rules, status = workloads._rules_and_map()
    o = check.TokenOracle(str(d / "input"), workloads._oracle_rules(rules),
                          status)
    yield o, d
    o.close()


def _write_routed(con, out, drop_doc=None, bump_token_of=None):
    """The routed-write layout (hive-partitioned web, plain firewall,
    gzip text unmatched) from the expected table, optionally damaged."""
    rows = "(SELECT * FROM expected WHERE doc_id IS DISTINCT FROM ?)"
    tokens = ("CASE WHEN doc_id = ? THEN list_transform(tokens, "
              "(x, i) -> CASE WHEN i = 1 THEN x + 1 ELSE x END) "
              "ELSE tokens END")
    os.makedirs(f"{out}/firewall")
    os.makedirs(f"{out}/unmatched")
    con.execute(f"""COPY (SELECT doc_id, {tokens} AS tokens, n_tok,
        http_status, status_class, event_type FROM {rows} WHERE sink = 'web')
        TO '{out}/web' (FORMAT PARQUET, PARTITION_BY (event_type))""",
                [bump_token_of, drop_doc])
    con.execute(f"""COPY (SELECT doc_id, {tokens} AS tokens, n_tok,
        event_type, syslog_prival FROM {rows} WHERE sink = 'firewall')
        TO '{out}/firewall/part-0.parquet' (FORMAT PARQUET)""",
                [bump_token_of, drop_doc])
    con.execute(f"""COPY (SELECT doc_id || ' ' || n_tok FROM {rows}
        WHERE sink = 'unmatched') TO '{out}/unmatched/part-0.txt.gz'
        (HEADER false, QUOTE '', COMPRESSION gzip)""", [drop_doc])


def _some_doc(o, sink):
    return o.con.execute(
        f"SELECT min(doc_id) FROM expected WHERE sink = '{sink}'").fetchone()[0]


def test_routed_check_accepts_the_reference_output(oracle, tmp_path):
    o, _ = oracle
    _write_routed(o.con, str(tmp_path / "ok"))
    assert o.check_routed(str(tmp_path / "ok")) == []


@pytest.mark.parametrize("sink", ["web", "firewall", "unmatched"])
def test_routed_check_rejects_a_dropped_row(oracle, tmp_path, sink):
    o, _ = oracle
    _write_routed(o.con, str(tmp_path / "bad"), drop_doc=_some_doc(o, sink))
    assert o.check_routed(str(tmp_path / "bad"))


@pytest.mark.parametrize("sink", ["web", "firewall"])
def test_routed_check_rejects_a_changed_token(oracle, tmp_path, sink):
    o, _ = oracle
    _write_routed(o.con, str(tmp_path / "bad"), bump_token_of=_some_doc(o, sink))
    errors = o.check_routed(str(tmp_path / "bad"))
    assert any("token arrays" in e for e in errors)


def test_keep_best_and_pair_check():
    text = {"a": "x y z w v", "b": "x y z w q", "c": "x y z w v",
            "d": "p q r s t"}
    exact = check.jaccard(check.shingles(text["a"]), check.shingles(text["b"]))
    pairs = [("a", "b", round(exact, 6)), ("b", "c", round(exact, 6))]
    assert check.check_pairs(pairs, text, 0.5) == []
    assert check.check_pairs([("a", "d", 0.9)], text, 0.5)
    # one component {a, b, c}: b has the highest score; d is unpaired
    score = {"a": 9, "b": 10, "c": 10, "d": 1}
    assert check.keep_best(list(text), pairs, score) == {"b", "d"}
    # a dropped or extra kept id is a different set
    assert check.keep_best(list(text), pairs[:1], score) == {"b", "c", "d"}
