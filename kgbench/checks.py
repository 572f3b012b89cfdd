"""Output checks against oracles that share no code path with the engine.

The store is read straight from its parquet files with DuckDB; ids are
mapped to labels through ``id2term``. Expected contents come from the
pure-Python triple oracle (``functions/oracle.py``), from the N-Quads
generator in :mod:`kgbench.inputs`, or from SQL evaluated by DuckDB.
Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb

MIN_PR = 0.95
INDEXES = ("spo", "pos", "osp")


def _files(root: str, table: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, table, "*.parquet")))


class Store:
    """One DuckDB view of a store directory: ``q_<index>`` tables of
    id-space quads and ``lq`` of the SPO quads with their labels."""

    def __init__(self, root: str):
        self.root = root
        self.con = duckdb.connect()
        for name in INDEXES:
            self.con.execute(
                f"CREATE TABLE q_{name} AS SELECT s, p, o, o_kind, o_num, c "
                f"FROM read_parquet(?)", [_files(root, f"triples_{name}")])
        self.con.execute(
            "CREATE TABLE d AS SELECT id, kind, label FROM read_parquet(?)",
            [_files(root, "id2term")])
        self.con.execute("""
            CREATE TABLE lq AS SELECT q.s AS s_id, q.p AS p_id, q.o AS o_id,
              q.o_kind, q.o_num, q.c AS c_id,
              ds.label AS s, dp.label AS p,
              CASE WHEN q.o_kind = 2 THEN NULL ELSE dob.label END AS o,
              dc.label AS c
            FROM q_spo q
            LEFT JOIN d ds ON q.s = ds.id LEFT JOIN d dp ON q.p = dp.id
            LEFT JOIN d dob ON q.o = dob.id LEFT JOIN d dc ON q.c = dc.id""")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def count(self) -> int:
        return self.rows("SELECT count(*) FROM q_spo")[0][0]

    def distinct_terms(self) -> int:
        return self.rows("SELECT count(*) FROM d")[0][0]

    def label_quads(self, where: str = "TRUE") -> Counter:
        """Multiset of (s, p, o, o_num, o_kind, c) label tuples."""
        return Counter(self.rows(
            f"SELECT s, p, o, o_num, o_kind, c FROM lq WHERE {where}"))

    def integrity(self) -> list[str]:
        """The three indexes hold one multiset and every id has a label."""
        out = []
        for name in ("pos", "osp"):
            for a, b in (("spo", name), (name, "spo")):
                n = self.rows(f"SELECT count(*) FROM (SELECT * FROM q_{a} "
                              f"EXCEPT ALL SELECT * FROM q_{b})")[0][0]
                if n:
                    out.append(f"{n} quads in {a.upper()} missing from "
                               f"{b.upper()}")
        dup = self.rows("SELECT count(*) FROM (SELECT id FROM d GROUP BY id "
                        "HAVING count(*) > 1)")[0][0]
        if dup:
            out.append(f"{dup} ids with more than one dictionary entry")
        n = self.rows("SELECT count(*) FROM lq WHERE s IS NULL OR p IS NULL "
                      "OR c IS NULL OR (o_kind <> 2 AND o IS NULL)")[0][0]
        if n:
            out.append(f"{n} quads reference ids missing from id2term")
        return out


def _triple_set(rows) -> set[tuple]:
    return {(s, p, o if k != 2 else float(o)) for s, p, o, k in rows}


def precision_recall(store: Store, oracle, where: str = "TRUE") -> tuple[float, float]:
    got = _triple_set(
        (s, p, o if k != 2 else n, k)
        for s, p, o, n, k in store.rows(
            f"SELECT s, p, o, o_num, o_kind FROM lq WHERE {where}"))
    ref = _triple_set(zip(oracle["subj"], oracle["pred"], oracle["obj"],
                          oracle["obj_kind"]))
    if not got or not ref:
        return 0.0, 0.0
    inter = len(got & ref)
    return inter / len(got), inter / len(ref)


def check_build(store: Store, stats: dict, oracle) -> list[str]:
    out = store.integrity()
    n = store.count()
    if n != stats["resolved_triples"]:
        out.append(f"SPO holds {n} quads, build reported "
                   f"{stats['resolved_triples']}")
    p, r = precision_recall(store, oracle)
    if p < MIN_PR or r < MIN_PR:
        out.append(f"P/R {p:.4f}/{r:.4f} below {MIN_PR}")
    return out


def check_nquads(store: Store, dump, malformed_counted: int) -> list[str]:
    out = store.integrity()
    got = store.label_quads()
    want = Counter(dump.quads)
    if got != want:
        out.append(f"loaded quads differ from the dump: "
                   f"{sum((got - want).values())} unexpected, "
                   f"{sum((want - got).values())} missing")
    if malformed_counted != dump.malformed:
        out.append(f"malformed lines counted {malformed_counted}, "
                   f"generator wrote {dump.malformed}")
    return out


def check_append(store: Store, before: Counter, appended: int,
                 fresh_oracle, fresh_ctx: set[str]) -> list[str]:
    """After one append: outside the fresh conversations' graphs the
    store holds exactly what it held before (so the re-offered
    conversations added nothing), the store grew by the count ``append``
    reported, and the fresh quads match the oracle to the P/R floor."""
    out = store.integrity()
    fresh = "c IN (" + ", ".join(f"'{c}'" for c in sorted(fresh_ctx)) + ")"
    kept = store.label_quads(f"NOT ({fresh})")
    if kept != before:
        out.append(f"quads outside the fresh graphs changed: "
                   f"{sum((kept - before).values())} added, "
                   f"{sum((before - kept).values())} lost")
    new = store.count() - sum(kept.values())
    if new != appended:
        out.append(f"store grew by {new} quads, append reported {appended}")
    p, r = precision_recall(store, fresh_oracle, fresh)
    if p < MIN_PR or r < MIN_PR:
        out.append(f"appended P/R {p:.4f}/{r:.4f} below {MIN_PR}")
    return out


# ---------------------------------------------------------------------------
# SPARQL responses
# ---------------------------------------------------------------------------

def expected_answer(store: Store, q) -> list[tuple]:
    """DuckDB evaluation of a :class:`kgbench.inputs.Query`, as the rows
    the endpoint must return (ordered only for ``analytic``)."""
    if q.cls == "lookup":
        return store.rows("SELECT o FROM lq WHERE s = ? AND p = ?",
                          [q.params["s"], q.params["p"]])
    if q.cls == "join":
        return store.rows("""
            SELECT DISTINCT a.s, b.o FROM lq a JOIN lq b
              ON a.o_id = b.s_id AND a.o_kind = 0
            WHERE a.p = 'rel:works_at' AND b.p = 'rel:located_in'
              AND b.o_kind = 0 AND a.o <> ?""", [q.params["org"]])
    if q.cls == "analytic":
        return store.rows("""
            SELECT a.o, count(*) AS n FROM lq a JOIN lq b ON a.s_id = b.s_id
            WHERE a.p = 'rel:works_at' AND a.o_kind = 0
              AND b.p = 'rel:lives_in' AND b.o = ? AND b.o_kind = 0
            GROUP BY a.o ORDER BY n DESC, a.o LIMIT 5""", [q.params["city"]])
    raise ValueError(q.cls)


def response_rows(q, payload: dict) -> list[tuple]:
    cols = payload["head"]["vars"]
    out = []
    for b in payload["results"]["bindings"]:
        row = []
        for c in cols:
            t = b.get(c)
            v = None if t is None else t["value"]
            if q.cls == "analytic" and c == "n" and v is not None:
                v = int(v)
            row.append(v)
        out.append(tuple(row))
    return out


def check_query(store: Store, q, payload: dict) -> list[str]:
    got = response_rows(q, payload)
    want = expected_answer(store, q)
    same = got == want if q.cls == "analytic" else Counter(got) == Counter(want)
    if not same:
        return [f"{q.cls} answer differs: {len(got)} rows returned, "
                f"{len(want)} expected; first returned {got[:1]}, "
                f"first expected {want[:1]}"]
    return []
