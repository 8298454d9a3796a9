"""Output checks, run after the JVM has exited (outside every timed
window). Each returns a list of (operation, ok, detail).

* spj_adhoc: every query's collected rows against DuckDB running the
  generated ANSI twin over the same parquet, as multisets; ORDERBY
  queries must also come back sorted on their ORDERBY columns.
* operator_suite: the warm pass's parquet output against
  `SparkEntry.oracleSql` in DuckDB over the warm tables (oracle-covered
  queries) or rows > 0 (rows-only queries); in the timed pass, rows > 0
  and the observed (row count, digest) against the pair recorded for the
  same query and scale by earlier runs in this build directory.
* event_stream: the JVM compares streamed and batch-twin results and
  reports mismatches; here they become check results.
* corpus_fold: each fold's outputs against an independent recomputation
  from the generated batch and the documents table: the admitted ids
  (min id per distinct text in the batch, texts the standing corpus holds
  rejected), the near-duplicate cluster labels of standing ∪ admitted
  (connected components over word-bigram Jaccard >= 1/2, labelled by
  their least id; only documents with at least one edge) and the version
  diff (admitted ids `added`, every standing id `unchanged`).

Floats compare equal when they agree to 1e-9 relative; everything else
compares exactly.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def cell(v):
    """A comparable, sortable form of one value."""
    if v is None:
        return (0, "")
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return (3, tuple(cell(x) for x in v))
    if isinstance(v, bool):
        return (1, float(v))
    if isinstance(v, (int, float)):
        f = float(v)
        return (0, "") if math.isnan(f) else (1, f)
    if isinstance(v, (pd.Timestamp,)) or hasattr(v, "isoformat"):
        return (2, pd.Timestamp(v).isoformat())
    try:
        if pd.isna(v):
            return (0, "")
    except (TypeError, ValueError):
        pass
    return (2, str(v))


def same_cell(a, b):
    if a[0] == 1 and b[0] == 1:
        x, y = a[1], b[1]
        return x == y or abs(x - y) <= 1e-9 * max(abs(x), abs(y))
    if a[0] == 3 and b[0] == 3:
        return len(a[1]) == len(b[1]) and all(
            same_cell(p, q) for p, q in zip(a[1], b[1]))
    return a == b


def same_rows(got, want):
    """Multiset equality of two lists of row tuples (positional columns)."""
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    g = sorted(tuple(cell(v) for v in r) for r in got)
    w = sorted(tuple(cell(v) for v in r) for r in want)
    for i, (a, b) in enumerate(zip(g, w)):
        if len(a) != len(b) or not all(same_cell(x, y) for x, y in zip(a, b)):
            return False, f"sorted row {i}: {a} != {b}"
    return True, f"{len(got)} rows"


def frame_rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return [tuple(r) for r in df.itertuples(index=False)]


def check_spj(plan, result, run_dir, corrupt=False):
    con = connect(plan["timed_dir"])
    ok_ops = {o["id"] for o in result["ops"] if o["ok"]}
    out = []
    for q in plan["spj_queries"]:
        name = f"spj{q['id']}"
        path = os.path.join(run_dir, "out", "spj", f"{q['id']}.json")
        if q["id"] not in ok_ops or not os.path.exists(path):
            continue  # a failed operation is counted once, as failed
        got = json.load(open(path))
        want = [tuple(r) for r in con.execute(q["twin"]).fetchall()]
        if corrupt and q["id"] == 0:
            want = want[1:] if want else [("corrupted",)]
        ok, detail = same_rows([tuple(r) for r in got["rows"]], want)
        if ok and q["order"]:
            idx = [got["columns"].index(c) for c in q["order"]
                   if c in got["columns"]]
            keys = [tuple(cell(r[i]) for i in idx) for r in got["rows"]]
            if keys != sorted(keys):
                ok, detail = False, "not sorted on ORDERBY columns"
        out.append((name, ok, detail))
    return out


def check_suite(plan, result, build_dir, corrupt=False):
    oracle = result.get("oracle_sql", {})
    out = []
    warm_con = connect(plan["warm_dir"])
    for w in result.get("warm", []):
        name = w["name"]
        if w["error"]:
            out.append((f"warm:{name}", False, w["error"]))
            continue
        got = pd.read_parquet(w["path"])
        if name not in oracle:
            out.append((f"warm:{name}", len(got) > 0, f"{len(got)} rows"))
            continue
        want = warm_con.execute(oracle[name]).df()
        if corrupt and len(want):  # the first oracle-covered query
            want, corrupt = want.iloc[1:], False
        if sorted(got.columns) != sorted(want.columns):
            out.append((f"warm:{name}", False,
                        f"columns {sorted(got.columns)} != {sorted(want.columns)}"))
            continue
        ok, detail = same_rows(frame_rows(got), frame_rows(want))
        out.append((f"warm:{name}", ok, detail))

    store_path = os.path.join(build_dir, "digests.json")
    store = json.load(open(store_path)) if os.path.exists(store_path) else {}
    for o in result["ops"]:
        if not o["ok"]:
            continue
        name, rows, digest = o["name"], o["rows"], o["digest"]
        ok, detail = rows > 0, f"{rows} rows"
        key = f"{name}@{os.path.basename(plan['timed_dir'])}"
        seen = store.setdefault(key, [rows, digest])
        if ok and seen != [rows, digest]:
            ok, detail = False, f"digest {[rows, digest]} != earlier {seen}"
        out.append((f"timed:{name}", ok, detail))
    with open(store_path + ".tmp", "w") as f:
        json.dump(store, f, indent=0, sort_keys=True)
    os.replace(store_path + ".tmp", store_path)
    return out


def check_stream(result):
    return [(f"stream:{c['name']}", c["mismatches"] == 0,
             f"{c['mismatches']} mismatched rows")
            for c in result.get("stream_checks", [])]


def check_fold(plan, result, run_dir, corrupt=False):
    from gen import components, documents, grams, near_dup, near_dup_edges
    standing = {i: t for i, t in documents(plan["timed_dir"])
                if i < plan["fold_split"]}
    texts = set(standing.values())
    g = {i: grams(t) for i, t in standing.items()}
    edges0 = near_dup_edges(standing)
    ok_ops = {o["id"] for o in result["ops"] if o["ok"]}
    out = []
    for op, batch in enumerate(plan["fold_batches"]):
        path = os.path.join(run_dir, "out", "fold", f"{op}.json")
        if op not in ok_ops or not os.path.exists(path):
            continue  # a failed operation is counted once, as failed
        got = json.load(open(path))
        first = {}
        for i, t in batch:
            first[t] = min(first.get(t, i), i)
        admitted = sorted(i for t, i in first.items() if t not in texts)
        if corrupt and op == 0:
            admitted = admitted[1:]
        bg = {i: grams(t) for i, t in batch if i in set(admitted)}
        both = {**g, **bg}
        edges = edges0 + [(a, b) for a in bg for b in both
                          if a != b and near_dup(bg[a], both[b])]
        labels = components(edges)
        problems = []
        if sorted(got["admitted"]) != admitted:
            problems.append(
                f"admitted {sorted(got['admitted'])} != {admitted}")
        if {a: b for a, b in got["labels"]} != labels:
            problems.append("cluster labels differ from a full recompute")
        counts = {k: v for k, v in [("added", len(admitted)),
                                     ("unchanged", len(standing))] if v}
        if sorted(got["added"]) != admitted or got["status_counts"] != counts:
            problems.append(f"diff {got['status_counts']} != {counts}")
        out.append((f"fold{op}", not problems,
                    "; ".join(problems) or f"{len(admitted)} admitted, "
                    f"{len(labels)} labelled"))
    return out


def run(workload, plan, result, run_dir, build_dir, corrupt=False):
    if workload == "spj_adhoc":
        return check_spj(plan, result, run_dir, corrupt)
    if workload == "operator_suite":
        return check_suite(plan, result, build_dir, corrupt)
    if workload == "corpus_fold":
        return check_fold(plan, result, run_dir, corrupt)
    return check_stream(result)
