"""Seeded generators of the workloads' inputs.

* SPJ queries in the reference dialect, each with its ANSI twin for
  DuckDB. Templates (shape, tables, columns, operators) follow a fixed
  cycle drawn once from TEMPLATE_SEED, so every seed has the same mix of
  costs; the seed draws the literals from the data. Every other query
  reruns the previous template with fresh literals, so the compiler's
  statistics caches see hits and misses.
* The operator-suite panel is fixed and stratified by query family; the
  JVM orders it by the seed (it needs the query registry). Its size is
  set here.
* The event replay: a seeded start offset into the `ts`-ordered events
  and a re-delivery rate.
* The corpus-fold ingest batches: seeded draws of new documents from the
  held-out tail of the documents table, revised (near-duplicate) and
  re-delivered (exact duplicate) standing documents, and documents
  repeated within the batch; and the standing corpus's near-duplicate
  cluster labels, the table a fold starts from.

Sizes come from `seconds`: each workload has a nominal cost per
operation on a 4-core host, so a run does a fixed amount of work per
(seed, seconds), whatever the speed of the machine.
"""
import random

import pyarrow as pa
import pyarrow.parquet as pq

# table -> column -> type; timestamp columns are left out of the dialect
SCHEMA = {
    "region": {"r_regionkey": "int", "r_name": "str"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "customer": {"c_custkey": "long", "c_name": "str", "c_nationkey": "int",
                 "c_acctbal": "double", "c_mktsegment": "str"},
    "supplier": {"s_suppkey": "long", "s_name": "str", "s_nationkey": "int",
                 "s_acctbal": "double"},
    "part": {"p_partkey": "long", "p_name": "str", "p_brand": "str",
             "p_type": "str", "p_size": "int", "p_retailprice": "double"},
    "orders": {"o_orderkey": "long", "o_custkey": "long",
               "o_orderstatus": "str", "o_totalprice": "double",
               "o_orderpriority": "str"},
    "lineitem": {"l_orderkey": "long", "l_partkey": "long",
                 "l_suppkey": "long", "l_linenumber": "int",
                 "l_quantity": "double", "l_extendedprice": "double",
                 "l_discount": "double", "l_tax": "double",
                 "l_returnflag": "str", "l_linestatus": "str"},
}
FKS = [("lineitem", "l_orderkey", "orders", "o_orderkey"),
       ("lineitem", "l_partkey", "part", "p_partkey"),
       ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
       ("orders", "o_custkey", "customer", "c_custkey"),
       ("customer", "c_nationkey", "nation", "n_nationkey"),
       ("supplier", "s_nationkey", "nation", "n_nationkey"),
       ("nation", "n_regionkey", "region", "r_regionkey")]
GROUP_COLS = {"r_name", "n_name", "n_regionkey", "c_mktsegment",
              "c_nationkey", "s_nationkey", "p_brand", "p_type", "p_size",
              "o_orderstatus", "o_orderpriority", "l_returnflag",
              "l_linestatus", "l_linenumber", "l_discount", "l_tax"}
MEASURES = {"c_acctbal", "s_acctbal", "p_retailprice", "p_size",
            "o_totalprice", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax"}
KEYS = {"orders": "o_orderkey", "customer": "c_custkey",
        "part": "p_partkey", "supplier": "s_suppkey",
        "lineitem": "l_orderkey"}
AGGS = ["MAX", "MIN", "SUM", "COUNT", "AVG"]
# One cycle of (shape, tables): 1-4 tables joined along foreign keys.
# Columns, aggregates and operators are drawn from TEMPLATE_SEED, so every
# run has the same query mix and cost profile; the run's seed draws the
# literals (from the data) and thereby the selectivities. Every run covers
# the whole cycle at least once.
TEMPLATE_SEED = 0
SLOTS = [("agg_group", ["lineitem", "orders"]),
         ("point", ["lineitem", "orders", "customer", "nation"]),
         ("distinct", ["part"]),
         ("agg_group", ["lineitem", "part", "supplier"]),
         ("agg_global", ["customer", "nation"])]

NOMINAL_OP_S = {"spj_adhoc": 0.6, "operator_suite": 1.25,
                "event_stream": 1.2, "corpus_fold": 2.0}
# queries in the operator-suite panel; odd, so that the median is one query
SUITE_PANEL = 9

# corpus_fold: documents below FOLD_SPLIT are the standing corpus, the
# rest the pool new documents come from; rows of each ingest batch by kind
FOLD_SPLIT = 400
FOLD_BATCH = {"new": 14, "revised": 2, "redelivered": 2, "repeated": 2}
FOLD_WARM_SEED = 0  # the set-up's warm-up batches are the same for every seed
FOLD_WARM = 1


def table_of(col):
    return next(t for t, cols in SCHEMA.items() if col in cols)


class Values:
    """Literal pools: column values of a seeded row sample of each table."""

    def __init__(self, data_dir, rng, per_table=2000):
        self.pool = {}
        for t, cols in SCHEMA.items():
            tab = pq.read_table(f"{data_dir}/{t}.parquet", columns=list(cols))
            n = tab.num_rows
            idx = [rng.randrange(n) for _ in range(min(per_table, n))]
            for c in cols:
                col = tab.column(c)
                self.pool[c] = sorted(col[i].as_py() for i in idx)

    def point(self, rng, c):
        return rng.choice(self.pool[c])

    def quantile(self, rng, c):
        p = self.pool[c]
        return p[int(len(p) * rng.uniform(0.1, 0.9))]


def template(rng, shape, tables):
    """The literal-free part of a query over `tables`."""
    joins = [e for e in FKS if e[0] in tables and e[2] in tables]
    sels = []
    if shape == "point":  # selective: equality on a key column
        sels.append((KEYS[rng.choice([t for t in tables if t in KEYS])], "="))
    cols = [c for t in tables for c in SCHEMA[t]]
    groupable = [c for c in cols if c in GROUP_COLS]
    measures = [c for c in cols if c in MEASURES] or \
        [c for c in cols if SCHEMA[table_of(c)][c] != "str"]

    def agg():
        return rng.choice(AGGS), rng.choice(measures)

    for _ in range(rng.choice([0, 1, 1, 2]) if shape != "point" else
                   rng.choice([0, 1])):
        c = rng.choice(cols)
        if c in MEASURES:
            sels.append((c, rng.choice(["<", ">", "<=", ">="])))
        elif c in GROUP_COLS and SCHEMA[table_of(c)][c] == "str":
            sels.append((c, rng.choice(["=", "=", "!="])))
    t = {"shape": shape, "tables": tables, "joins": joins, "sels": sels,
         "distinct": False, "project": [], "group": [], "order": []}
    if shape == "agg_group" and groupable:
        g = rng.sample(groupable, min(len(groupable), rng.choice([1, 1, 2])))
        t["group"] = g
        t["project"] = [(None, c) for c in g] + [
            agg() for _ in range(rng.choice([1, 2, 3]))]
        t["order"] = g if rng.random() < 0.5 else []
    elif shape in ("agg_global", "agg_group"):
        t["project"] = [agg() for _ in range(rng.choice([1, 2, 3]))]
    elif shape == "distinct" and groupable:
        p = rng.sample(groupable, min(len(groupable), rng.choice([1, 2])))
        t["distinct"] = True
        t["project"] = [(None, c) for c in p]
        t["order"] = p if rng.random() < 0.5 else []
    else:  # point, or no groupable column: a short projection
        p = rng.sample(cols, min(len(cols), rng.choice([2, 3, 4])))
        t["project"] = [(None, c) for c in p]
        t["order"] = p[:1] if rng.random() < 0.5 else []
    # dedupe aggregate columns: the compiler names outputs fn_table_col
    seen, proj = set(), []
    for a in t["project"]:
        if a not in seen:
            seen.add(a)
            proj.append(a)
    t["project"] = proj
    return t


def literals(rng, values, t):
    out = []
    for c, op in t["sels"]:
        v = values.point(rng, c) if op in ("=", "!=") else \
            values.quantile(rng, c)
        out.append((c, op, v))
    return out


def ref(c):
    return f"{table_of(c).upper()}.{c}"


def sql_lit(c, v):
    ty = SCHEMA[table_of(c)][c]
    if ty == "str":
        return "'" + str(v).replace("'", "''") + "'"
    if ty == "double":
        return f"CAST('{v!r}' AS DOUBLE)"
    return f"CAST({v} AS {'INTEGER' if ty == 'int' else 'BIGINT'})"


def twin_agg(fn, c):
    x = f"{table_of(c)}.{c}"
    floating = SCHEMA[table_of(c)][c] == "double"
    if fn in ("MAX", "MIN", "COUNT"):
        return f"{fn}({x})"
    s = f"CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)" if floating \
        else f"SUM({x})"
    if fn == "SUM":
        return s
    return (s if floating else f"CAST(SUM({x}) AS DOUBLE)") + f" / COUNT({x})"


def render(t, lits):
    """(dialect text, ANSI twin) of a template with literals."""
    def item(a):
        fn, c = a
        return ref(c) if fn is None else f"{fn}({ref(c)})"
    conds = [f"{ref(a)}={ref(b)}" for _, a, _, b in t["joins"]] + [
        f'{ref(c)}{op}"{v}"' for c, op, v in lits]
    q = "SELECT " + ("DISTINCT " if t["distinct"] else "") + \
        ",".join(item(a) for a in t["project"]) + \
        " FROM " + ",".join(x.upper() for x in t["tables"])
    if conds:
        q += " WHERE " + ",".join(conds)
    if t["group"]:
        q += " GROUPBY " + ",".join(ref(c) for c in t["group"])
    if t["order"]:
        q += " ORDERBY " + ",".join(ref(c) for c in t["order"])

    plain = [c for fn, c in t["project"] if fn is None]
    has_agg = any(fn is not None for fn, _ in t["project"])
    sel = ", ".join(f"{table_of(c)}.{c}" if fn is None else twin_agg(fn, c)
                    for fn, c in t["project"])
    where = [f"{table_of(a)}.{a} = {table_of(b)}.{b}"
             for _, a, _, b in t["joins"]] + [
        f"{table_of(c)}.{c} {'<>' if op == '!=' else op} {sql_lit(c, v)}"
        for c, op, v in lits]
    keys = list(dict.fromkeys(t["group"] + plain))
    twin = "SELECT " + ("DISTINCT " if t["distinct"] or
                        (keys and not has_agg and t["group"]) else "") + sel
    twin += " FROM " + ", ".join(t["tables"])
    if where:
        twin += " WHERE " + " AND ".join(where)
    if has_agg and keys:
        twin += " GROUP BY " + ", ".join(f"{table_of(c)}.{c}" for c in keys)
    return q, twin


def spj_queries(seed, n, data_dir):
    """n queries: even positions open a new template from the next slot,
    odd positions rerun the previous template with fresh literals."""
    rng = random.Random(seed)
    shape_rng = random.Random(TEMPLATE_SEED)
    values = Values(data_dir, random.Random(seed * 7919 + 1))
    templates, out = [], []
    for i in range(n):
        if i % 2 == 0:
            shape, tables = SLOTS[len(templates) % len(SLOTS)]
            templates.append(template(shape_rng, shape, tables))
        ti = len(templates) - 1
        t = templates[ti]
        q, twin = render(t, literals(rng, values, t))
        out.append({"id": i, "template": ti, "shape": t["shape"],
                    "sql": q, "twin": twin,
                    "order": [f"{table_of(c)}_{c}" for c in t["order"]]})
    return out


def documents(data_dir):
    t = pq.read_table(f"{data_dir}/documents.parquet",
                      columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def grams(text):
    """Distinct word bigrams; words are maximal runs of non-space."""
    w = [x for x in text.split(" ") if x]
    return {w[i] + " " + w[i + 1] for i in range(len(w) - 1)}


def near_dup(a, b):
    c = len(a & b)
    return 2 * c >= len(a) + len(b) - c


def near_dup_edges(docs):
    """Near-duplicate pairs among {doc_id: text}."""
    g = {i: grams(t) for i, t in docs.items()}
    ids = sorted(g)
    return [(a, b) for k, a in enumerate(ids) for b in ids[k + 1:]
            if near_dup(g[a], g[b])]


def components(edges):
    """{node: least node of its component} over the nodes of `edges`."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def standing_labels(docs, path):
    """The standing corpus's cluster labels (id, cluster_id), as the table
    `CorpusMaintain.foldBatch` takes, written to `path`."""
    labels = components(near_dup_edges(
        {i: t for i, t in docs if i < FOLD_SPLIT}))
    ids = sorted(labels)
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "cluster_id": pa.array([labels[i] for i in ids], pa.int64())}), path)


def fold_batch(rng, docs, op):
    """One ingest batch of (doc_id, text) rows; ids of rows that are not
    pool documents start at 100000 + 100 * op."""
    standing = [d for d in docs if d[0] < FOLD_SPLIT]
    pool = [d for d in docs if d[0] >= FOLD_SPLIT]
    base = 100000 + 100 * op
    new = rng.sample(pool, FOLD_BATCH["new"])
    rows = list(new)
    rows += [(base + j, t + " rev") for j, (_, t) in
             enumerate(rng.sample(standing, FOLD_BATCH["revised"]))]
    rows += [(base + 10 + j, t) for j, (_, t) in
             enumerate(rng.sample(standing, FOLD_BATCH["redelivered"]))]
    rows += [(base + 20 + j, t) for j, (_, t) in
             enumerate(rng.sample(new, FOLD_BATCH["repeated"]))]
    rng.shuffle(rows)
    return [list(r) for r in rows]


def plan(workload, seed, seconds, trace, dirs, cores):
    n = max(1, round(seconds / NOMINAL_OP_S[workload]))
    p = {"workload": workload, "seed": seed, "seconds": seconds,
         "trace": trace, "cores": cores, "timed_ops": n,
         "generator": {"nominal_op_s": NOMINAL_OP_S[workload]}, **dirs}
    if workload == "spj_adhoc":
        n = max(n, 2 * len(SLOTS))
        p["timed_ops"] = n
        p["spj_queries"] = spj_queries(seed, n, dirs["timed_dir"])
        p["generator"].update(slots=SLOTS, template_seed=TEMPLATE_SEED,
                              template_reuse="every 2nd query")
    elif workload == "operator_suite":
        p["suite_n"] = SUITE_PANEL
        p["generator"].update(strata="query family (first letter)",
                              allocation="proportional, at least 1, evenly "
                                         "spaced", order="seeded shuffle",
                              panel=SUITE_PANEL)
    elif workload == "corpus_fold":
        docs = documents(dirs["timed_dir"])
        rng = random.Random(seed)
        labels = f"{dirs['out_dir']}/standing_labels.parquet"
        standing_labels(docs, labels)
        p.update(fold_split=FOLD_SPLIT, fold_labels=labels,
                 fold_expected_items=2 * FOLD_SPLIT,
                 fold_warm_batches=[
                     fold_batch(random.Random(FOLD_WARM_SEED + k), docs, n + k)
                     for k in range(FOLD_WARM)],
                 fold_batches=[fold_batch(rng, docs, i) for i in range(n)])
        p["generator"].update(split=FOLD_SPLIT, batch=FOLD_BATCH,
                              warm_seed=FOLD_WARM_SEED, warm=FOLD_WARM)
    elif workload == "event_stream":
        rng = random.Random(seed)
        stream = {"batch_size": 1000, "warm_batches": 1, "dup_every": 50,
                  "replay_start": rng.randrange(0, 40000)}
        p.update(stream)
        p["generator"].update(stream)
    return p
