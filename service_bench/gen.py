"""Seeded input generators: CSV uploads, conversation turns, document batches.

Everything here is a pure function of its seed. The program under test only
ever sees the bytes, text and IR these functions return; the truth values
kept next to them (per-column nulls and means, the intended IR of each NL
turn, the injected duplicates) feed the correctness checks in ``oracle.py``.
"""

from __future__ import annotations

import functools
import json
import re
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# CSV uploads (FIXTURES.md section A shape)
# ---------------------------------------------------------------------------

# Column kinds and the Spark type the landed parquet must end up with.
EXPECTED_TYPE = {
    "int": "int",
    "double": "double",
    "money": "double",  # "1,200" / " 950 " strings, coerced by the ingest pass
    "cat": "string",
    "text": "string",
    "date_iso": "date",
    "date_us": "date",  # M/d/yyyy strings, coerced
    "ts_us": "timestamp",  # M/d/yyyy HH:mm strings, coerced
}
NUMERIC_KINDS = ("int", "double", "money")

# Name pools per kind. Numeric and categorical names avoid the NL
# translator's keywords (count/sum/total/mean/avg, sort words, chart words,
# by/per/each, where/with) so an NL turn names exactly one column; "country"
# (which contains "count") is still generated and reached through IR turns.
_NAMES = {
    "num": [
        "age", "score", "income as at joining scheme", "balance", "weight kg",
        "height cm", "tenure months", "visits", "rating", "spend",
        "distance km", "duration min", "credit limit", "savings", "salary",
        "bonus", "premium", "deposit", "arrears", "fees", "dependents",
    ],
    "cat": [
        "sex", "gender", "country", "education", "province", "marital status",
        "segment", "channel", "plan tier", "employment", "housing", "district",
        "branch", "device", "payment method",
    ],
    "date": [
        "registration date", "last login", "renewal date", "birth date",
        "first purchase", "closed on",
    ],
    "text": ["comments", "notes", "remarks"],
}

# Kind sequence for a schema of width w: the first w entries, cycling.
_KIND_CYCLE = [
    "int", "double", "money", "cat", "cat", "date_iso", "cat", "double",
    "ts_us", "text", "date_us", "int", "cat", "money", "double", "cat",
]

_WORDS = (
    "north south east west river lake hill valley market garden school "
    "harbor bridge tower station forest meadow canyon island village"
).split()


def _messy(name: str, rng: np.random.Generator) -> str:
    """A header the way spreadsheets export it: stray spaces, capitals."""
    words = name.split()
    style = int(rng.integers(0, 4))
    if style == 1:
        words = [w.capitalize() for w in words]
    elif style == 2:
        words = [w.upper() if i == 0 else w for i, w in enumerate(words)]
    sep = "  " if style == 3 else " "
    return " " * int(rng.integers(0, 2)) + sep.join(words) + " " * int(rng.integers(0, 2))


def clean_name(header: str) -> str:
    """The ingest layer's header normalization (strip, snake-case, lower)."""
    return re.sub(r"\s+", "_", header.strip()).lower()


@dataclass
class Column:
    name: str  # normalized name, as the landed dataset has it
    header: str  # messy header as written in the CSV
    kind: str
    categories: list[str] = field(default_factory=list)


@dataclass
class Schema:
    columns: list[Column]

    def by_kind(self, *kinds: str) -> list[Column]:
        return [c for c in self.columns if c.kind in kinds]


def make_schema(width: int, seed: int) -> Schema:
    rng = np.random.default_rng([seed, 1])
    pools = {k: list(v) for k, v in _NAMES.items()}
    for v in pools.values():
        rng.shuffle(v)
    used: set[str] = set()
    cols = []
    for i in range(width):
        kind = _KIND_CYCLE[i % len(_KIND_CYCLE)]
        pool = pools[
            "num" if kind in NUMERIC_KINDS else
            "date" if kind.startswith(("date", "ts")) else kind
        ]
        base = pool[i % len(pool)]
        name, k = base, 2
        while clean_name(name) in used:
            name, k = f"{base} {k}", k + 1
        used.add(clean_name(name))
        cats: list[str] = []
        if kind == "cat":
            n = int(rng.integers(2, 7))
            cats = [f"{w}{chr(97 + j)}" for j, w in enumerate(rng.choice(_WORDS, n, replace=False))]
        cols.append(Column(clean_name(name), _messy(name, rng), kind, cats))
    return Schema(cols)


@dataclass
class CsvTruth:
    """What the landed dataset must contain, computed from the generated
    values (not from the CSV text)."""

    rows: int
    null_counts: dict[str, int]
    means: dict[str, float]
    types: dict[str, str]


def _fmt_date(y, m, d) -> list[str]:
    return [f"{a:04d}-{b:02d}-{c:02d}" for a, b, c in zip(y, m, d)]


def make_csv(schema: Schema, rows: int, seed: int) -> tuple[bytes, CsvTruth]:
    """One upload: CSV bytes with messy headers, "1,200"-style numbers, ISO
    and US dates, nulls and skewed categoricals, plus its truth."""
    rng = np.random.default_rng([seed, 2])
    cells: list[list[str]] = []
    nulls: dict[str, int] = {}
    means: dict[str, float] = {}
    for col in schema.columns:
        null = rng.random(rows) < {"cat": 0.01, "text": 0.05}.get(col.kind, 0.03)
        if col.kind == "int":
            v = rng.integers(18, 66, rows)
            strs = v.astype(str)
        elif col.kind == "double":
            v = np.round(rng.normal(50.0, 12.0, rows), 2)
            strs = np.char.mod("%.2f", v)
        elif col.kind == "money":
            v = np.round(rng.lognormal(7.0, 1.0, rows)).astype(np.int64)
            styled = rng.random(rows) < 0.5
            strs = np.array(
                [f'"{x:,}"' if s else f" {x} " for x, s in zip(v.tolist(), styled)]
            )
        elif col.kind == "cat":
            k = len(col.categories)
            # skew: one dominant value, geometric tail
            p = np.array([0.6 ** i for i in range(k)])
            if rng.random() < 0.3:
                p[0] *= 30  # 95-99% dominant, like country / marital status
            p /= p.sum()
            v = rng.choice(np.array(col.categories), rows, p=p)
            strs = v
        elif col.kind == "text":
            n = rng.integers(3, 9, rows).tolist()
            words = [_WORDS[j] for j in rng.integers(len(_WORDS), size=sum(n)).tolist()]
            ends = np.cumsum(n).tolist()
            strs = np.array(
                [" ".join(words[e - k:e]) + f" {i}" for i, (e, k) in enumerate(zip(ends, n))]
            )
        else:
            y = rng.integers(2015, 2025, rows)
            m = rng.integers(1, 13, rows)
            d = rng.integers(1, 29, rows)
            if col.kind == "date_iso":
                strs = np.array(_fmt_date(y, m, d))
            elif col.kind == "date_us":
                strs = np.array([f"{b}/{c}/{a}" for a, b, c in zip(y, m, d)])
            else:
                hh = rng.integers(0, 24, rows)
                mm = rng.integers(0, 60, rows)
                strs = np.array(
                    [f"{b}/{c}/{a} {h:02d}:{n_:02d}" for a, b, c, h, n_ in zip(y, m, d, hh, mm)]
                )
        strs = np.where(null, "", strs)
        nulls[col.name] = int(null.sum())
        if col.kind in NUMERIC_KINDS:
            means[col.name] = float(np.asarray(v, dtype=np.float64)[~null].mean())
        cells.append(strs.tolist())
    lines = [",".join(c.header for c in schema.columns)]
    lines.extend(",".join(r) for r in zip(*cells))
    data = ("\n".join(lines) + "\n").encode()
    truth = CsvTruth(
        rows=rows,
        null_counts=nulls,
        means=means,
        types={c.name: EXPECTED_TYPE[c.kind] for c in schema.columns},
    )
    return data, truth


# ---------------------------------------------------------------------------
# Conversation turns
# ---------------------------------------------------------------------------

@dataclass
class Turn:
    dataset: int  # index into the conversation datasets
    conversation: str
    mode: str  # "nl" | "ir_text" (JSON in the query text) | "ir" (IR object)
    payload: str | dict
    intent: dict  # the IR the turn means; the oracle evaluates this
    label: str  # intent family, for reporting
    repeat: bool = False


def _num_value(col: Column, q: float) -> str:
    """A filter threshold at roughly quantile q of the column."""
    if col.kind == "int":
        return str(int(18 + q * 47))
    if col.kind == "double":
        return f"{50.0 + 12.0 * (2 * q - 1) * 1.5:.1f}"
    return str(int(np.exp(7.0 + 2.0 * (q - 0.5))))


def _nl_safe(col: Column, group: bool = False) -> bool:
    """Whether an NL phrase naming ``col`` stays inside the rule-based
    translator's keyword grammar (``nl.rule_based_translate``). Two known
    translator limits are kept out of NL turns (IR turns still cover these
    columns): aggregate keywords match inside words, so "country" reads as
    a count; and the filter phrase's operator "is" matches inside a column
    name, so "where visits > 3" loses its filter."""
    if group:
        return "count" not in col.name
    return "count" not in col.name and "is" not in col.name


# Turn-stream shape: the share of turns that repeat an earlier one exactly,
# and the Zipf exponent of dataset popularity.
REPEAT_FRAC = 0.25
ZIPF_S = 1.1


def _op(type_, column, **kw) -> dict:
    return {"type": type_, "column": column, **kw}


class TurnGenerator:
    """Closed-loop client script: an endless, seed-determined turn stream.

    Datasets are chosen with Zipf popularity (rank 1 = dataset 0). A share
    ``REPEAT_FRAC`` of turns repeat an earlier history-free turn exactly, in
    a fresh conversation; NL follow-ups ("and the total?") come right after
    the aggregate turn they refer to, in the same conversation."""

    def __init__(self, schemas: list[Schema], seed: int, client: int):
        self.schemas = schemas
        self.rng = np.random.default_rng([seed, 3, client])
        self.client = client
        w = np.array([1.0 / (i + 1) ** ZIPF_S for i in range(len(schemas))])
        self.popularity = w / w.sum()
        self.history_free: list[Turn] = []
        self.pending: list[Turn] = []
        self.n_conv = 0

    def __iter__(self):
        return self

    def __next__(self) -> Turn:
        if self.pending:
            return self.pending.pop(0)
        if self.history_free and self.rng.random() < REPEAT_FRAC:
            t = self.history_free[int(self.rng.integers(len(self.history_free)))]
            self.n_conv += 1
            return Turn(t.dataset, f"c{self.client}-{self.n_conv}", t.mode,
                        t.payload, t.intent, t.label, repeat=True)
        ds = int(self.rng.choice(len(self.schemas), p=self.popularity))
        self.n_conv += 1
        conv = f"c{self.client}-{self.n_conv}"
        turns = self._fresh(ds, conv)
        for t in turns:
            if not t.label.startswith("followup"):
                self.history_free.append(t)
        self.pending = turns[1:]
        return turns[0]

    def _pick(self, cols: list[Column]) -> Column:
        return cols[int(self.rng.integers(len(cols)))]

    def _fresh(self, ds: int, conv: str) -> list[Turn]:
        s = self.schemas[ds]
        nums = s.by_kind(*NUMERIC_KINDS)
        cats = s.by_kind("cat")
        num, num2, cat = self._pick(nums), self._pick(nums), self._pick(cats)
        nl_cat = self._pick([c for c in cats if _nl_safe(c, group=True)])
        spoken = num.name.replace("_", " ")
        r = self.rng.random()
        if r < 0.5:  # NL
            k = int(self.rng.integers(8))
            if k == 0:
                first = Turn(ds, conv, "nl", f"what is the average {spoken}?",
                             {"intent": "aggregate", "operations": [_op("mean", num.name)]},
                             "aggregate")
                fu = [("and the total?", "sum"), ("and how many rows is that?", "count")]
                text, agg = fu[int(self.rng.integers(2))]
                return [first, Turn(ds, conv, "nl", text,
                                    {"intent": "aggregate", "operations": [_op(agg, num.name)]},
                                    "followup_" + agg)]
            if k == 1:
                word, agg = [("total", "sum"), ("average", "mean")][int(self.rng.integers(2))]
                by = nl_cat.name.replace("_", " ")
                return [Turn(ds, conv, "nl", f"what is the {word} {spoken} by {by}",
                             {"intent": "aggregate",
                              "operations": [_op(agg, num.name, by=nl_cat.name)]},
                             "grouped_aggregate")]
            if k == 2:
                by = nl_cat.name.replace("_", " ")
                return [Turn(ds, conv, "nl", f"how many rows per {by}",
                             {"intent": "aggregate",
                              "operations": [_op("group_by_count", nl_cat.name)]},
                             "group_count")]
            if k == 3:
                n = int(self.rng.integers(3, 11))
                low = self.rng.random() < 0.3
                text = f"show the top {n} {'lowest ' if low else ''}{spoken}"
                return [Turn(ds, conv, "nl", text,
                             {"intent": "sort",
                              "operations": [_op("sort", num.name, ascending=low),
                                             _op("limit", num.name, n=n)]},
                             "sort_topn")]
            if k == 4:
                num = self._pick([c for c in nums if _nl_safe(c)])
                spoken = num.name.replace("_", " ")
                v = _num_value(num, float(self.rng.uniform(0.2, 0.8)))
                return [Turn(ds, conv, "nl", f"show rows where {spoken} > {v}",
                             {"intent": "describe",
                              "operations": [_op("filter", num.name, operator=">", value=v)]},
                             "describe")]
            if k == 5:
                nl_cat = self._pick([c for c in cats if _nl_safe(c)])
                val = nl_cat.categories[int(self.rng.integers(len(nl_cat.categories)))]
                return [Turn(ds, conv, "nl",
                             f"show rows where {nl_cat.name.replace('_', ' ')} is {val}",
                             {"intent": "describe",
                              "operations": [_op("filter", nl_cat.name, operator="=", value=val)]},
                             "describe")]
            if k == 6:
                num = self._pick([c for c in nums if _nl_safe(c)])
                spoken = num.name.replace("_", " ")
                v = _num_value(num, float(self.rng.uniform(0.3, 0.9)))
                return [Turn(ds, conv, "nl", f"plot rows where {spoken} < {v}",
                             {"intent": "visualize",
                              "operations": [_op("filter", num.name, operator="<", value=v)]},
                             "visualize")]
            return [Turn(ds, conv, "nl", "describe the data",
                         {"intent": "describe", "operations": []}, "describe")]
        # direct IR
        k = int(self.rng.integers(8))
        if k == 0:
            agg = ["mean", "sum", "count"][int(self.rng.integers(3))]
            ir = {"intent": "aggregate", "operations": [
                _op("filter", num2.name, operator=">=", value=_num_value(num2, 0.3)),
                _op(agg, num.name)]}
            label = "aggregate"
        elif k == 1:
            agg = ["mean", "sum"][int(self.rng.integers(2))]
            ir = {"intent": "aggregate", "operations": [_op(agg, num.name, by=cat.name)]}
            label = "grouped_aggregate"
        elif k == 2:
            ir = {"intent": "aggregate", "operations": [_op("group_by_count", cat.name)]}
            label = "group_count"
        elif k in (3, 4):
            # wide row filter: matches most rows, so it hits the 1000-row cap
            cols = [c.name for c in s.columns[: int(self.rng.integers(3, 7))]]
            ir = {"intent": "filter", "columns": cols if k == 3 else [],
                  "operations": [_op("filter", num.name, operator=">",
                                     value=_num_value(num, 0.1))]}
            label = "filter_truncated"
        elif k == 5:
            val = cat.categories[int(self.rng.integers(len(cat.categories)))]
            ir = {"intent": "filter", "columns": [cat.name, num.name],
                  "operations": [_op("filter", cat.name, operator="=", value=val),
                                 _op("filter", num.name, operator="<",
                                     value=_num_value(num, 0.05))]}
            label = "filter"
        elif k == 6:
            n = int(self.rng.integers(3, 21))
            ir = {"intent": "sort", "operations": [
                _op("sort", num.name, ascending=bool(self.rng.random() < 0.5)),
                _op("limit", num.name, n=n)]}
            label = "sort_topn"
        else:
            ir = {"intent": "visualize", "columns": [cat.name, num.name], "operations": []}
            label = "visualize"
        mode = "ir_text" if self.rng.random() < 0.5 else "ir"
        payload = json.dumps(ir) if mode == "ir_text" else ir
        return [Turn(ds, conv, mode, payload, ir, label)]


def warmup_turns(schema: Schema) -> list[Turn]:
    """One turn per intent family on dataset 0 (``schema``), used inside
    set-up."""
    dataset = 0
    nums = [c for c in schema.by_kind(*NUMERIC_KINDS) if _nl_safe(c)]
    cats = [c for c in schema.by_kind("cat") if _nl_safe(c)]
    num, cat = nums[0], cats[0]
    spoken = num.name.replace("_", " ")
    conv = "warmup"
    out = [
        Turn(dataset, conv, "nl", f"what is the average {spoken}?",
             {"intent": "aggregate", "operations": [_op("mean", num.name)]}, "aggregate"),
        Turn(dataset, conv, "nl", "and the total?",
             {"intent": "aggregate", "operations": [_op("sum", num.name)]}, "followup_sum"),
        Turn(dataset, "w2", "nl", f"what is the total {spoken} by {cat.name.replace('_', ' ')}",
             {"intent": "aggregate", "operations": [_op("sum", num.name, by=cat.name)]},
             "grouped_aggregate"),
        Turn(dataset, "w3", "nl", f"how many rows per {cat.name.replace('_', ' ')}",
             {"intent": "aggregate", "operations": [_op("group_by_count", cat.name)]},
             "group_count"),
        Turn(dataset, "w4", "nl", f"show the top 5 {spoken}",
             {"intent": "sort", "operations": [_op("sort", num.name, ascending=False),
                                               _op("limit", num.name, n=5)]}, "sort_topn"),
        Turn(dataset, "w5", "nl", "describe the data",
             {"intent": "describe", "operations": []}, "describe"),
        Turn(dataset, "w6", "nl", f"plot rows where {spoken} < {_num_value(num, 0.5)}",
             {"intent": "visualize", "operations": [
                 _op("filter", num.name, operator="<", value=_num_value(num, 0.5))]},
             "visualize"),
    ]
    ir = {"intent": "filter", "columns": [],
          "operations": [_op("filter", num.name, operator=">", value=_num_value(num, 0.1))]}
    out.append(Turn(dataset, "w7", "ir", ir, ir, "filter_truncated"))
    return out


# ---------------------------------------------------------------------------
# Document batches (corpus dedup)
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 4000
# Shares of a batch's documents: exact copies, near copies (1 word in 25
# replaced) and documents under the curation min-token bar.
EXACT_FRAC = 0.10
NEAR_FRAC = 0.10
SHORT_FRAC = 0.05
_STOP = "the and of to in is that it for on as with was at by".split()


@functools.lru_cache(maxsize=4)
def _vocab(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(_VOCAB_SIZE)}
    return np.array(sorted(words))


@dataclass
class DocBatch:
    docs: list[tuple[int, str]]
    exact_dups: list[tuple[int, int]]  # (original id, copy id), original < copy
    near_dups: list[tuple[int, int]]
    short_ids: list[int]  # under the curation min-token bar
    text_bytes: int


def make_doc_batch(n_docs: int, seed: int, batch: int) -> DocBatch:
    """English-like documents with injected exact and near duplicates."""
    rng = np.random.default_rng([seed, 4, batch])
    vocab = _vocab(seed)
    docs: list[tuple[int, str]] = []
    originals: list[int] = []  # indexes of long, unmodified documents
    exact, near, short = [], [], []
    for i in range(n_docs):
        doc_id = i
        r = rng.random()
        if originals and r < EXACT_FRAC:
            j = originals[int(rng.integers(len(originals)))]
            docs.append((doc_id, docs[j][1]))
            exact.append((docs[j][0], doc_id))
        elif originals and r < EXACT_FRAC + NEAR_FRAC:
            j = originals[int(rng.integers(len(originals)))]
            words = docs[j][1].split()
            for p in rng.choice(len(words), max(1, len(words) // 25), replace=False):
                new = words[p]
                while new == words[p]:  # a near duplicate must differ
                    new = str(rng.choice(vocab))
                words[p] = new
            docs.append((doc_id, " ".join(words)))
            near.append((docs[j][0], doc_id))
        elif r < EXACT_FRAC + NEAR_FRAC + SHORT_FRAC:
            docs.append((doc_id, " ".join(rng.choice(vocab, int(rng.integers(2, 8))))))
            short.append(doc_id)
        else:
            n = int(rng.integers(40, 160))
            words = np.where(rng.random(n) < 0.3, rng.choice(_STOP, n), rng.choice(vocab, n))
            text = " ".join(words.tolist()).capitalize() + "."
            originals.append(len(docs))
            docs.append((doc_id, text))
    return DocBatch(docs, exact, near, short, sum(len(t.encode()) for _, t in docs))


def docs_jsonl(batch: DocBatch) -> bytes:
    return "".join(
        json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in batch.docs
    ).encode()
