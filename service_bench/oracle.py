"""Correctness checks. Every check returns a list of problems (empty = ok).

- uploads: the insights JSON against the generator's numpy truth (row count,
  null counts, means) and the landed types against the generated kinds;
- conversation turns: the service's rows against DuckDB evaluating the same
  IR over the generated CSV, order-insensitive with a float tolerance;
- corpus batches: the curated output drops every injected exact duplicate
  and keeps every unique long document; the near-duplicate pairs include
  every exact-duplicate pair and their Jaccard values are exact.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter
from typing import Any

import duckdb

from gen import NUMERIC_KINDS, CsvTruth, DocBatch, Schema

MAX_RESULT_ROWS = 1000  # the service's documented fetch cap
DESCRIBE_CAP, VISUALIZE_CAP = 10, 100
REL_TOL, ABS_TOL = 1e-9, 1e-6


# ---------------------------------------------------------------------------
# uploads
# ---------------------------------------------------------------------------

def check_insights(insights: dict[str, Any], truth: CsvTruth) -> list[str]:
    problems = []
    summary = insights.get("data_summary", {})
    if summary.get("row_count") != truth.rows:
        problems.append(f"row_count {summary.get('row_count')} != {truth.rows}")
    stats = {c["name"]: c for c in insights.get("column_statistics", [])}
    if set(stats) != set(truth.types):
        problems.append(f"columns {sorted(stats)} != {sorted(truth.types)}")
        return problems
    for name, want in truth.types.items():
        got = stats[name]
        if got["data_type"] != want:
            problems.append(f"{name}: type {got['data_type']} != {want}")
        if got["null_count"] != truth.null_counts[name]:
            problems.append(f"{name}: nulls {got['null_count']} != {truth.null_counts[name]}")
        if name in truth.means:
            mean = float(got.get("mean"))
            # insights carry means formatted to 2 decimals
            if abs(mean - truth.means[name]) > 0.006 + 1e-12 * abs(truth.means[name]):
                problems.append(f"{name}: mean {mean} != {truth.means[name]:.4f}")
    return problems


# ---------------------------------------------------------------------------
# conversation turns
# ---------------------------------------------------------------------------

def _sql_cast(col, src: str) -> str:
    v = f"NULLIF(trim({src}), '')"
    return {
        "int": f"CAST({v} AS INTEGER)",
        "double": f"CAST({v} AS DOUBLE)",
        "money": f"CAST(replace({v}, ',', '') AS DOUBLE)",
        "cat": v,
        "text": v,
        "date_iso": f"CAST({v} AS DATE)",
        "date_us": f"CAST(strptime({v}, '%m/%d/%Y') AS DATE)",
        "ts_us": f"strptime({v}, '%m/%d/%Y %H:%M')",
    }[col.kind]


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class DuckOracle:
    """The generated CSVs as typed DuckDB tables, plus IR evaluation."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.schemas: dict[int, Schema] = {}
        self._rows: dict[tuple[int, tuple[str, ...]], Counter] = {}
        self._results: dict[str, list[tuple]] = {}
        self._canon_full: dict[int, list[tuple]] = {}
        self._checked: dict[tuple, list[str]] = {}

    def close(self) -> None:
        self.con.close()

    def load(self, ds: int, csv_path: str, schema: Schema) -> None:
        raw = [f"c{i}" for i in range(len(schema.columns))]
        names = "[" + ", ".join(f"'{r}'" for r in raw) + "]"
        select = ", ".join(
            f"{_sql_cast(c, r)} AS {_q(c.name)}" for c, r in zip(schema.columns, raw)
        )
        self.con.execute(
            f"CREATE TABLE t{ds} AS SELECT {select} FROM read_csv('{csv_path}', "
            f"header=true, all_varchar=true, names={names})"
        )
        self.schemas[ds] = schema

    # -- IR -> SQL ----------------------------------------------------------

    def _where(self, ds: int, ops: list[dict]) -> str:
        kinds = {c.name: c.kind for c in self.schemas[ds].columns}
        conds = []
        for op in ops:
            if op["type"] != "filter":
                continue
            col, operator, value = _q(op["column"]), op["operator"], op["value"]
            if operator in (">", "<", ">=", "<="):
                conds.append(f"{col} {operator} {float(value)!r}")
            else:
                sql_op = "=" if operator in ("=", "==") else "<>"
                lit = "'" + value.replace("'", "''") + "'"
                if kinds[op["column"]] not in ("cat", "text"):
                    lit = f"CAST({lit} AS {'DOUBLE' if kinds[op['column']] in NUMERIC_KINDS else 'DATE'})"
                conds.append(f"{col} {sql_op} {lit}")
        return (" WHERE " + " AND ".join(conds)) if conds else ""

    def _sql(self, ds: int, ir: dict) -> tuple[str, list[str]]:
        """(SQL without any row cap, output column names)."""
        ops = ir.get("operations", [])
        where = self._where(ds, ops)
        table = f"t{ds}"
        if ir["intent"] == "aggregate":
            (op,) = [o for o in ops if o["type"] != "filter"]
            col = op["column"]
            if op["type"] == "group_by_count":
                alias = f"count_{col}"
                return (f"SELECT {_q(col)}, COUNT({_q(col)}) AS {_q(alias)} FROM {table}"
                        f"{where} GROUP BY {_q(col)}", [col, alias])
            fn = {"mean": "AVG", "sum": "SUM", "count": "COUNT"}[op["type"]]
            alias = f"{op['type']}_{col}"
            if op.get("by"):
                return (f"SELECT {_q(op['by'])}, {fn}({_q(col)}) AS {_q(alias)} FROM {table}"
                        f"{where} GROUP BY {_q(op['by'])}", [op["by"], alias])
            return f"SELECT {fn}({_q(col)}) AS {_q(alias)} FROM {table}{where}", [alias]
        cols = ir.get("columns") or [c.name for c in self.schemas[ds].columns]
        order = ""
        for op in ops:
            if op["type"] == "sort":
                order = (f" ORDER BY {_q(op['column'])} "
                         + ("ASC NULLS FIRST" if op.get("ascending", True) else "DESC NULLS LAST"))
        return f"SELECT {', '.join(map(_q, cols))} FROM {table}{where}{order}", cols

    def _cap(self, ir: dict) -> int | None:
        caps = [o["n"] for o in ir.get("operations", []) if o["type"] == "limit"]
        if ir["intent"] == "describe":
            caps.append(DESCRIBE_CAP)
        elif ir["intent"] == "visualize":
            caps.append(VISUALIZE_CAP)
        return min(caps) if caps else None

    def _fetch(self, sql: str) -> list[tuple]:
        if sql not in self._results:
            self._results[sql] = self.con.execute(sql).fetchall()
        return self._results[sql]

    def _table_rows(self, ds: int, cols: list[str]) -> Counter:
        """Multiset of the table's rows projected on ``cols``."""
        key = (ds, tuple(cols))
        if key not in self._rows:
            names = [c.name for c in self.schemas[ds].columns]
            full = (ds, tuple(names))
            if full not in self._rows:
                rows = self.con.execute(f"SELECT * FROM t{ds}").fetchall()
                self._canon_full[ds] = [_canon_row(r) for r in rows]
                self._rows[full] = Counter(self._canon_full[ds])
            idx = [names.index(c) for c in cols]
            self._rows[key] = Counter(tuple(r[i] for i in idx) for r in self._canon_full[ds])
        return self._rows[key]

    # -- comparison ---------------------------------------------------------

    def check_turn(self, ds: int, ir: dict, response: dict) -> list[str]:
        _, cols = self._sql(ds, ir)
        data = response.get("data")
        if data is None:
            return ["no data in response"]
        if data and set(data[0]) != set(cols):
            return [f"columns {sorted(data[0])} != {sorted(cols)}"]
        got = [tuple(r.get(c) for c in cols) for r in data]
        key = (ds, repr(ir), repr(got), bool(response.get("truncated")),
               "visualization_data" in response)
        if key not in self._checked:  # an exact repeat of a checked answer
            self._checked[key] = self._check(ds, ir, response, data, got, cols)
        return self._checked[key]

    def _check(self, ds, ir, response, data, got, cols) -> list[str]:
        sql, _ = self._sql(ds, ir)
        (total,) = self._fetch(f"SELECT COUNT(*) FROM ({sql})")[0]
        cap = self._cap(ir)
        compiled_len = total if cap is None else min(cap, total)
        want_truncated = compiled_len > MAX_RESULT_ROWS
        problems = []
        if bool(response.get("truncated")) != want_truncated:
            problems.append(f"truncated={response.get('truncated')} want {want_truncated}")
        if len(got) != min(compiled_len, MAX_RESULT_ROWS):
            problems.append(f"{len(got)} rows, want {min(compiled_len, MAX_RESULT_ROWS)}")
            return problems
        if ir["intent"] == "visualize" and "visualization_data" not in response:
            problems.append("no visualization_data")
        if cap is None and not want_truncated:
            problems += _same_rows(got, self._fetch(sql))
            return problems
        # A capped result is some rows of the full answer: each returned row
        # must come from the table, satisfy the filters, and (under a sort)
        # carry exactly the top sort-key values.
        table = self._table_rows(ds, cols)
        for row, n in Counter(_canon_row(r) for r in got).items():
            if table.get(row, 0) < n:
                problems.append(f"row not in table: {row}")
                break
        bad = [r for r in data if not _passes(r, ir)]
        if bad:
            problems.append(f"{len(bad)} rows fail the filters")
        sort = [o for o in ir.get("operations", []) if o["type"] == "sort"]
        if sort:
            i = cols.index(sort[0]["column"])
            want = self._fetch(f"{sql} LIMIT {len(got)}")
            if [r[i] for r in got] != [r[i] for r in want]:
                problems.append("sort keys differ from the top of the ordering")
        return problems


def _canon(v: Any) -> Any:
    if isinstance(v, float) and not math.isnan(v):
        return float(f"{v:.12g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _canon_row(r) -> tuple:
    return tuple(_canon(v) for v in r)


def _sort_key(r: tuple) -> tuple:
    return tuple((v is None, f"{v:.9g}" if isinstance(v, float) else str(v)) for v in r)


def _close(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return _canon(a) == _canon(b)


def _same_rows(got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"{len(got)} rows, want {len(want)}"]
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return [f"row {g} != {w}"]
    return []


def _passes(row: dict, ir: dict) -> bool:
    for op in ir.get("operations", []):
        if op["type"] != "filter" or op["column"] not in row:
            continue
        v = row[op["column"]]
        if v is None:
            return False
        o, x = op["operator"], op["value"]
        if o in (">", "<", ">=", "<="):
            x = float(x)
            ok = {">": v > x, "<": v < x, ">=": v >= x, "<=": v <= x}[o]
        else:
            ok = (str(v) == x) == (o in ("=", "=="))
        if not ok:
            return False
    return True


# ---------------------------------------------------------------------------
# corpus batches
# ---------------------------------------------------------------------------

# minhash_lsh_pairs' defaults: word 3-gram shingles, Jaccard threshold 0.5.
SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.5


def _shingles(text: str) -> set[str]:
    toks = text.strip().lower().split()
    n = SHINGLE_WORDS
    return {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}


def check_curated(batch: DocBatch, kept_ids: list[int]) -> list[str]:
    kept = set(kept_ids)
    problems = []
    copies = {c for _, c in batch.exact_dups}
    leaked = copies & kept
    if leaked:
        problems.append(f"{len(leaked)} injected exact duplicates kept")
    if kept & set(batch.short_ids):
        problems.append("documents under the token bar kept")
    long_unique = {
        i for i, t in batch.docs
        if i not in copies and i not in batch.short_ids and len(t.split()) >= 20
    }
    missing = long_unique - kept
    if missing:
        problems.append(f"{len(missing)} unique documents dropped")
    return problems


def check_pairs(batch: DocBatch, pairs: list[tuple[int, int, float]]) -> tuple[list[str], float]:
    """Problems, plus the recall of injected near-duplicate pairs (reported,
    not checked: LSH recall is probabilistic, exact duplicates are not)."""
    text = dict(batch.docs)
    found = {(a, b): j for a, b, j in pairs}
    problems = []
    groups: dict[str, list[int]] = {}
    for i, t in batch.docs:
        if len(t.split()) >= 3:
            groups.setdefault(t, []).append(i)
    for ids in groups.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                if found.get((ids[x], ids[y])) != 1.0:
                    problems.append(f"exact pair {ids[x]},{ids[y]} missing")
                    break
    for (a, b), j in found.items():
        sa, sb = _shingles(text[a]), _shingles(text[b])
        exact = len(sa & sb) / len(sa | sb)
        if j < JACCARD_THRESHOLD or not math.isclose(j, exact, rel_tol=1e-12):
            problems.append(f"pair {a},{b}: jaccard {j} != {exact}")
            break
    recall = sum(1 for p in batch.near_dups if p in found) / max(1, len(batch.near_dups))
    return problems[:5], recall
