"""Correctness checks for one benchmark run, made apart from the program.

Query workloads: each output is compared with the DuckDB oracle SQL of
SparkEntry.oracleSql on the same generated inputs, by the normalization
and hashing of tools/selfcheck.py. On the near-duplicate corpus, where
the oracle SQL is not the specification (the hot-bucket guards emit a
chain instead of every pair in an oversized bucket), property
checks take its place for q31b_lsh_pairs and q110_simhash_pairs_native:
the pairs are a subset of the oracle's pairs, and both pair sets induce
the same connected components.

curation_stream: the verdict lake, ledger and indexes of each pass are
checked for the properties the streams promise (see check_curation).

check(result, data_dir, out_dir) returns {(pass, op): error} for every
attempted operation whose output is wrong; ops that threw are counted by
the caller.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from selfcheck import TABLES, table_sig  # noqa: E402

PAIR_OPS = ("q31b_lsh_pairs", "q110_simhash_pairs_native")


def _connect(input_dir, tmp):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _components(pairs):
    """Least member of each element's component, by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _pairs(con, rel_sql):
    return set(con.execute(f"SELECT doc_a, doc_b FROM ({rel_sql})").fetchall())


def _out(out_dir, p, op):
    return f"SELECT * FROM read_parquet('{out_dir}/pass{p}/{op}/*.parquet')"


def check_queries(spec, data_dir, out_dir, attempts):
    con = _connect(os.path.join(data_dir, spec["input"]), os.path.join(out_dir, "tmp"))
    oracle = spec["oracle_sql"]
    on_corpus = spec["input"] == "corpus"
    expected = {}
    bad = {}
    for p, op in attempts:
        try:
            if on_corpus and op in PAIR_OPS:
                if op not in expected:
                    expected[op] = _pairs(con, oracle[op])
                got = _pairs(con, _out(out_dir, p, op))
                if not got <= expected[op]:
                    raise AssertionError(f"{len(got - expected[op])} pairs not in the oracle's")
                if _components(got) != _components(expected[op]):
                    raise AssertionError("pairs induce other components than the oracle's")
            elif op in oracle:
                if op not in expected:
                    expected[op] = table_sig(con.sql(oracle[op]))
                got = table_sig(con.sql(_out(out_dir, p, op)))
                if got != expected[op]:
                    raise AssertionError(
                        f"cols {got[0] == expected[op][0]} rows {got[1]}/{expected[op][1]} "
                        f"hash {got[2] == expected[op][2]}")
            else:
                raise AssertionError("no oracle SQL and no property check")
        except Exception as e:  # a check that cannot run is a failed check
            bad[(p, op)] = f"{type(e).__name__}: {str(e)[:300]}"
    return bad


def check_curation(spec, data_dir, base):
    """Properties of one replay written under `base`; returns
    {stream: error} for the streams whose outputs break them.

    curation: each doc has exactly one verdict; among the quality
    survivors of each group of byte-identical texts at most one doc is
    not a dup; the ledger has batches+1 rows, its spend is at most the
    budget and equals the tokens of kept docs; kept is the largest
    doc_id-order prefix of eligible (kept or budget) docs that fits the
    budget.
    dedup: each doc has exactly one verdict; each group of byte-identical
    texts keeps at most one doc; after compaction the band index holds
    one row per (band, band_sig).
    """
    con = duckdb.connect()
    corpus = f"read_parquet('{data_dir}/{spec['input']}/documents.parquet')"
    n_docs = con.execute(f"SELECT count(*) FROM {corpus}").fetchone()[0]
    bad = {}

    def one_verdict_per_doc(verdicts):
        n, n_ids, n_join = con.execute(
            f"SELECT count(*), count(DISTINCT v.doc_id), count(c.doc_id) "
            f"FROM {verdicts} v LEFT JOIN {corpus} c USING (doc_id)").fetchone()
        if not n == n_ids == n_join == n_docs:
            raise AssertionError(f"{n} verdicts, {n_ids} docs, {n_join} known, corpus {n_docs}")

    try:
        v = f"read_parquet('{base}/curation/verdicts/*/*.parquet', hive_partitioning=true)"
        led = f"read_parquet('{base}/curation/ledger/*/*.parquet', hive_partitioning=true)"
        one_verdict_per_doc(v)
        worst = con.execute(
            f"SELECT coalesce(max(k), 0) FROM (SELECT count(*) FILTER "
            f"(WHERE verdict NOT IN ('dup', 'quality')) AS k "
            f"FROM {v} AS v JOIN {corpus} AS c USING (doc_id) GROUP BY c.text)").fetchone()[0]
        if worst > 1:
            raise AssertionError(f"{worst} non-dup docs share one text")
        rows, spent = con.execute(f"SELECT count(*), sum(spent) FROM {led}").fetchone()
        if rows != spec["batches"] + 1:
            raise AssertionError(f"ledger has {rows} rows for {spec['batches']} batches")
        kept_tokens = con.execute(
            f"SELECT coalesce(sum(ws_tokens), 0) FROM {v} WHERE verdict = 'kept'").fetchone()[0]
        if not spent <= spec["budget"] or spent != kept_tokens:
            raise AssertionError(f"spent {spent}, kept tokens {kept_tokens}, budget {spec['budget']}")
        eligible = con.execute(
            f"SELECT doc_id, ws_tokens, verdict FROM {v} "
            f"WHERE verdict IN ('kept', 'budget') ORDER BY doc_id").fetchall()
        total, want = 0, set()
        for doc, w, _ in eligible:
            total += w
            if total > spec["budget"]:
                break
            want.add(doc)
        if want != {doc for doc, _, verdict in eligible if verdict == "kept"}:
            raise AssertionError("kept is not the largest eligible prefix within budget")
    except Exception as e:
        bad["curation"] = f"{type(e).__name__}: {str(e)[:300]}"

    try:
        v = f"read_parquet('{base}/dedup/verdicts/*/*.parquet', hive_partitioning=true)"
        idx = f"read_parquet('{base}/dedup/index/*/*.parquet', hive_partitioning=true)"
        one_verdict_per_doc(v)
        worst = con.execute(
            f"SELECT coalesce(max(k), 0) FROM (SELECT count(*) FILTER (WHERE status = 'keep') AS k "
            f"FROM {v} AS v JOIN {corpus} AS c USING (doc_id) GROUP BY c.text)").fetchone()[0]
        if worst > 1:
            raise AssertionError(f"{worst} kept docs share one text")
        rows, keys = con.execute(
            f"SELECT count(*), count(DISTINCT (band, band_sig)) FROM {idx}").fetchone()
        if rows != keys:
            raise AssertionError(f"compacted index has {rows} rows for {keys} keys")
    except Exception as e:
        bad["dedup"] = f"{type(e).__name__}: {str(e)[:300]}"
    return bad


def check(result, data_dir, out_dir):
    spec = result["check"]
    ok_attempts = [(ps["index"], o["name"]) for ps in result["passes"]
                   for o in ps["ops"] if o["ok"]]
    if spec["kind"] == "queries":
        return check_queries(spec, data_dir, out_dir, ok_attempts)
    bad = {}
    for p in sorted({p for p, _ in ok_attempts}):
        for stream, err in check_curation(spec, data_dir, f"{out_dir}/pass{p}").items():
            for pp, op in ok_attempts:
                if pp == p and op.startswith(stream + "."):
                    bad[(pp, op)] = err
    return bad
