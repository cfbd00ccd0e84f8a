"""Output checks that do not use the program under test.

Candidate pairs and agreement patterns are recomputed by DuckDB from the
generated input rows, with SQL written here from the same blocking rules and
comparison levels the workload hands the program. Clusters are recomputed
by a driver-side union-find over the program's own thresholded edges. Each
check returns a list of problems; an empty list means the output passed.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pandas as pd

Histogram = dict[tuple[int, ...], int]


def _quote(col: str) -> str:
    return '"' + col.replace('"', '""') + '"'


def _level_sql(comp, lv) -> str:
    col = lv.column or comp.column
    l, r = f"l.{_quote(col)}", f"r.{_quote(col)}"
    if lv.kind == "null":
        return f"({l} IS NULL OR {r} IS NULL)"
    if lv.kind == "exact":
        return f"({l} = {r})"
    if lv.kind == "jaro_winkler":
        return f"(jaro_winkler_similarity({l}, {r}) >= {lv.threshold!r})"
    if lv.kind == "levenshtein":
        return f"(levenshtein({l}, {r}) <= {lv.threshold!r})"
    if lv.kind == "date_diff_seconds":
        return f"(abs(epoch({l}) - epoch({r})) <= {lv.threshold!r})"
    raise ValueError(f"no oracle SQL for level kind {lv.kind!r}")


def gamma_sql(comp) -> str:
    """CASE ladder: null level -> -1, graded levels best-first, else 0."""
    whens = []
    if comp.null_level is not None:
        whens.append(f"WHEN {_level_sql(comp, comp.null_level)} THEN -1")
    for gamma, lv in comp.graded_levels:
        if lv.kind != "else":
            whens.append(f"WHEN {_level_sql(comp, lv)} THEN {gamma}")
    return f"CASE {' '.join(whens)} ELSE 0 END"


def _rule_sql(rule) -> str:
    if rule.sql is not None or not rule.keys:
        raise ValueError("oracle supports equi-join blocking rules only")
    for k in rule.keys:
        if not k.isidentifier():
            raise ValueError(f"oracle supports plain column keys, got {k!r}")
    return " AND ".join(f"l.{_quote(k)} = r.{_quote(k)}" for k in rule.keys)


def oracle_histogram(settings, left: pd.DataFrame, right: pd.DataFrame | None
                     = None) -> Histogram:
    """Agreement-pattern histogram over the candidate pairs the blocking
    rules generate: within `left` (dedupe, unique_id_l < unique_id_r) or, when
    `right` is given, between `left` and `right` (link)."""
    uid = _quote(settings.unique_id_column_name)
    comps = settings.comparisons
    rules = [_rule_sql(r) for r in settings.blocking_rules]
    con = duckdb.connect()
    try:
        con.register("l_in", left)
        con.register("r_in", left if right is None else right)
        order = f" AND l.{uid} < r.{uid}" if right is None else ""
        pairs = " UNION ".join(
            f"SELECT l.{uid} AS id_l, r.{uid} AS id_r FROM l_in l "
            f"JOIN r_in r ON {rule}{order}" for rule in rules)
        gammas = ", ".join(f"{gamma_sql(c)} AS g{i}"
                           for i, c in enumerate(comps))
        gcols = ", ".join(f"g{i}" for i in range(len(comps)))
        rows = con.execute(
            f"WITH p AS ({pairs}), v AS (SELECT {gammas} FROM p "
            f"JOIN l_in l ON l.{uid} = p.id_l JOIN r_in r ON r.{uid} = p.id_r)"
            f" SELECT {gcols}, count(*) FROM v GROUP BY ALL").fetchall()
    finally:
        con.close()
    return {tuple(int(g) for g in row[:-1]): int(row[-1]) for row in rows}


def oracle_pair_gammas(settings, left: pd.DataFrame, right: pd.DataFrame
                       ) -> list[tuple[int, ...]]:
    """Gamma vector of each row pair (left.iloc[i], right.iloc[i])."""
    comps = settings.comparisons
    con = duckdb.connect()
    try:
        con.register("l_in", left.assign(_i=range(len(left))))
        con.register("r_in", right.assign(_i=range(len(right))))
        gammas = ", ".join(gamma_sql(c) for c in comps)
        rows = con.execute(f"SELECT {gammas} FROM l_in l JOIN r_in r "
                           "ON l._i = r._i ORDER BY l._i").fetchall()
    finally:
        con.close()
    return [tuple(int(g) for g in row) for row in rows]


def compare_histograms(what: str, expected: Histogram, got: Histogram
                       ) -> list[str]:
    problems = []
    n_exp, n_got = sum(expected.values()), sum(got.values())
    if n_exp != n_got:
        problems.append(f"{what}: {n_got} candidate pairs, oracle has {n_exp}")
    diff = sorted(k for k in set(expected) | set(got)
                  if expected.get(k, 0) != got.get(k, 0))
    if diff:
        k = diff[0]
        problems.append(
            f"{what}: {len(diff)} agreement patterns differ, e.g. {k}: "
            f"{got.get(k, 0)} pairs, oracle has {expected.get(k, 0)}")
    return problems


def union_find_labels(node_ids, edges) -> dict:
    """Connected-component label (a representative node id) per node."""
    parent = {n: n for n in node_ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_clusters(membership: dict, edges) -> list[str]:
    """`membership` maps every node id to the program's cluster id; the
    clusters must be exactly the connected components of `edges`."""
    labels = union_find_labels(membership.keys(), edges)
    n_exp = len(set(labels.values()))
    n_got = len(set(membership.values()))
    if n_exp != n_got:
        return [f"{n_got} clusters, union-find over the thresholded edges "
                f"gives {n_exp}"]
    pairing = {(membership[n], labels[n]) for n in membership}
    if len(pairing) != n_exp:
        return ["cluster membership differs from the union-find components"]
    return []


def pairwise_f1(membership: dict, truth: dict) -> float:
    """Pairwise F1 of predicted clusters against ground-truth clusters."""
    def n_pairs(counter):
        return sum(c * (c - 1) // 2 for c in counter.values())

    tp = n_pairs(Counter((membership[n], truth[n]) for n in membership))
    pred = n_pairs(Counter(membership.values()))
    true = n_pairs(Counter(truth[n] for n in membership))
    return 2.0 * tp / (pred + true) if pred + true else 1.0
