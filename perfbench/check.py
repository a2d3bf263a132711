"""The oracle gate: checks every step's output from each checked pass.

The driver writes every step's output twice: from the warm pass of the
set-up (`first`: the first call of each step in a fresh session) and
from an untimed pass after the timed ones, in the same session (`last`),
which runs on the pins, feeds and indexes the earlier calls left behind.

- A step that is a `SparkEntry.queries` key is compared with its
  `SparkEntry.oracleSql(key)`, run in DuckDB over the same generated tables.
- The wire pipeline (`ReferencePipeline.pipeline` over `KafkaWire.parse`)
  is compared with the `q_facility_info_by_minute` oracle over the same
  events; `KafkaWire.parse` with the well-formed records of the topic,
  and the records it drops must be exactly the malformed ones.
- `q_dedup_minhash` has no oracle in the engine (it hashes with Spark's
  xxhash64), so two properties stand in: documents with the same
  non-empty shingle set pair up in all four bands, and every candidate
  pair shares a shingle.
- A negative control perturbs one output row of one compared step and
  must be caught.

Outputs are compared as sets of rows with columns in name order, cell by
cell: exactly, except that floats may differ by 1e-9 relative.
"""
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("events", "documents", "embeddings")


def norm(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def column_values(col):
    """A column as a list of Python values, NaN and nulls as None."""
    if col.dtype.kind in "biuf":  # numpy numbers: tolist gives Python ones
        return [None if v != v else v for v in col.tolist()]
    return [norm(v) for v in col]


def sort_keys(values):
    # a column holds one type and None: nulls first, then values
    if not any(v is None for v in values):
        return values
    return [(False, 0) if v is None else (True, v) for v in values]


def rows_of(df):
    """(columns in name order, rows as tuples of Python values, sorted)."""
    cols = sorted(df.columns)
    values = [column_values(df[c]) for c in cols]
    keys = zip(*(sort_keys(v) for v in values))
    rows = [r for _, r in sorted(zip(keys, zip(*values)), key=lambda kr: kr[0])]
    return cols, rows


def same(g, w):
    if isinstance(g, float) or isinstance(w, float):
        if g is None or w is None or isinstance(g, bool) or isinstance(w, bool):
            return False
        return g == w or abs(g - w) <= 1e-9 * max(1.0, abs(g), abs(w))
    return type(g) is type(w) and g == w


def compare(got, want):
    """None when the frame got equals want, the rows_of of the expected
    frame, as a set of rows; else the first difference."""
    gc, gr = rows_of(got)
    wc, wr = want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)} expected"
    # same() lets an int stand for a float, and nothing else differ in type
    kind = {int: float, type(None): None}
    for j, c in enumerate(gc):
        gt = {kind.get(type(r[j]), type(r[j])) for r in gr} - {None}
        wt = {kind.get(type(r[j]), type(r[j])) for r in wr} - {None}
        if gt != wt:
            return f"column {c}: got types {sorted(t.__name__ for t in gt)} " \
                   f"want {sorted(t.__name__ for t in wt)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if g == w:  # the column kinds match, so equal rows are the same
            continue
        for c, a, b in zip(gc, g, w):
            if not same(a, b):
                return f"row {i} column {c}: got {a!r} want {b!r}"
    return None


def perturb(df, seed):
    """A copy of df with one cell of one row changed."""
    bad = df.copy()
    r = seed % len(bad)
    c = sorted(bad.columns)[seed % len(bad.columns)]
    v = bad.at[bad.index[r], c]
    if isinstance(v, (bool, np.bool_)):
        nv = not v
    elif isinstance(v, (int, float, np.integer, np.floating)) and not pd.isna(v):
        nv = v + 1
    elif isinstance(v, str):
        nv = v + "~"
    else:
        nv = 1
    bad[c] = bad[c].astype(object)
    bad.at[bad.index[r], c] = nv
    return bad


def expected_parse(data):
    rows = []
    with open(os.path.join(data, "order_topic.jsonl")) as f:
        for line in f:
            try:
                d = json.loads(line)
            except ValueError:
                continue
            if isinstance(d, dict) and d.get("event.type") is not None:
                rows.append({"key": None, "event_type": d["event.type"],
                             "event_timestamp": d.get("event.timestamp"),
                             "facility_id": d.get("facility.id"),
                             "order_id": d.get("order.id")})
    return pd.DataFrame(rows, columns=["key", "event_type", "event_timestamp",
                                       "facility_id", "order_id"])


def decode_wire(got):
    rows = []
    for v in got["value"]:
        d = json.loads(v)
        rows.append({"facility_id": int(d["facility.id"]),
                     "event_timestamp": d["event.timestamp"],
                     "processing_count": d["processing.count"],
                     "processing_ms": d["processing.ms"]})
    return pd.DataFrame(rows, columns=["facility_id", "event_timestamp",
                                       "processing_count", "processing_ms"])


def shingles(text):
    tk = text.split(" ")
    return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}


def minhash_properties(got, docs):
    sh = {int(d): shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
    pairs = {}
    for a, b, n in zip(got["doc_a"], got["doc_b"], got["n_bands"]):
        a, b = int(a), int(b)
        if a >= b or (a, b) in pairs:
            return f"pair ({a}, {b}) out of order or repeated"
        if not sh[a] & sh[b]:
            return f"pair ({a}, {b}) shares no shingle"
        pairs[(a, b)] = int(n)
    groups = {}
    for d, s in sh.items():
        if s:
            groups.setdefault(frozenset(s), []).append(d)
    for ds in groups.values():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                if pairs.get((a, b)) != 4:
                    return f"identical shingle sets ({a}, {b}) not paired in 4 bands"
    return None


def kept_frac(sid, got, n_docs):
    """Share of the documents a dedup step keeps: of the arriving batch
    for the increment (admitted), of the corpus for MinHash (never the
    later document of a candidate pair)."""
    if sid == "Corpus.qCorpusIncrement":
        return float(got["admitted"].mean()) if len(got) else 0.0
    return 1.0 - got["doc_b"].nunique() / n_docs


def run_checks(data, out, rep, manifest, seed):
    """Checks each checked pass's outputs: {"passes": {pass: {step id:
    result}}, "negative_control": ...}."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    passes, wants, compared = {}, {}, []
    for name in rep["checked"]:
        passes[name] = check_pass(con, data, out, name, rep, manifest["sizes"],
                                  wants, compared)
    control = {"caught": False}
    if compared:
        sid, got, want = compared[seed % len(compared)]
        control["step"] = sid
        control["caught"] = compare(perturb(got, seed), want) is not None
    return {"passes": passes, "negative_control": control}


def check_pass(con, data, out, name, rep, sizes, wants, compared):
    """Checks the outputs pass `name` wrote; appends each step compared
    with an oracle to `compared` as ("pass/step id", got, want). `wants`
    keeps each step's expected rows for the next pass."""
    oracle = rep["oracle_sql"]

    def want_of(sid):
        if sid not in wants:
            if sid == "KafkaWire.parse":
                df = expected_parse(data)
            elif sid == "ReferencePipeline.pipeline":
                df = con.execute(oracle["Pairing.qFacilityInfoByMinute"]).fetch_df()
            else:
                df = con.execute(oracle[sid]).fetch_df()
            wants[sid] = rows_of(df)
        return wants[sid]

    steps = {}
    for st in rep["steps"]:
        sid, key = st["id"], st["key"]
        res = {"ok": False}
        steps[sid] = res
        try:
            got = con.execute(
                f"SELECT * FROM '{out}/results/{name}/{sid}/*.parquet'").fetch_df()
            res["rows"] = len(got)
            if sid == "KafkaWire.parse":
                want = want_of(sid)
                res["dropped_rows"] = sizes["wire_records"] - len(got)
                err = compare(got, want)
                if err is None and res["dropped_rows"] != sizes["malformed_records"]:
                    err = (f"dropped {res['dropped_rows']} records, generated "
                           f"{sizes['malformed_records']} malformed")
            elif sid == "ReferencePipeline.pipeline":
                got = decode_wire(got)
                want = want_of(sid)
                res["pairs_per_order"] = float(got["processing_count"].sum()) / sizes["orders"]
                err = compare(got, want)
            elif sid in oracle:
                want = want_of(sid)
                err = compare(got, want)
            elif key == "q_dedup_minhash":
                want = None
                err = minhash_properties(got, con.execute(
                    "SELECT doc_id, text FROM documents").fetch_df())
            else:
                want, err = None, "no oracle for this step"
            if sid == "Pairing.qPairMatch":
                res["pairs_per_order"] = len(got) / sizes["orders"]
            elif sid == "Pairing.qFacilityInfoByMinute":
                res["pairs_per_order"] = float(got["processing_count"].sum()) / sizes["orders"]
            if sid in ("Corpus.qCorpusIncrement", "Dedup.qDedupMinhash"):
                res["kept_frac"] = kept_frac(sid, got, sizes["documents"])
            if want is not None and len(got):
                compared.append((f"{name}/{sid}", got, want))
            res["ok"] = err is None
            if err:
                res["error"] = err
        except Exception as e:  # a step whose output cannot be read fails
            res["error"] = f"{type(e).__name__}: {e}"
    return steps
