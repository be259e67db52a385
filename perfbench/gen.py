"""Seeded input generators for the benchmark's four workloads.

The fact tables behind `dashboard` and `rollup` come from a fixed data
seed, so they are built once per checkout and cached under
.perfbench/data; what the run seed changes there is the statement
stream. `ingest` change batches and the `pipeline` corpus are drawn
from the run seed itself and written to the run's work directory.
"""
import datetime as dt
import json
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260101
GEN_VERSION = "1"   # bump when a generator's output changes
EPOCH = dt.datetime(1992, 1, 1)
DAYS = 2400         # order dates span 1992-01-01 .. 1998-07-28

# lineitem rows per order is 1..7 (mean 4), as in TPC-H
DASHBOARD_ORDERS = 150_000     # ~600k lineitem rows, sf0.1-sized
ROLLUP_SCALE = 5               # rollup = 5x the dashboard tables


def _ts(seconds):
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us", tz="UTC"))


def _strings(rng, choices, n, p=None):
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx.astype("int32")),
                                          pa.array(choices)).cast(pa.string())


def _write(table, path, files):
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet",
                       row_group_size=1 << 20)


def star_tables(out, orders_n, files):
    """orders + lineitem with seeded values; returns row counts."""
    rng = np.random.default_rng([DATA_SEED, orders_n])
    okey = np.arange(1, orders_n + 1, dtype=np.int64)
    odate = rng.integers(0, DAYS, orders_n) * 86400 + rng.integers(0, 86400, orders_n)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, orders_n // 10 + 1, orders_n),
        "o_orderstatus": _strings(rng, ["F", "O", "P"], orders_n),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, orders_n), 4),
        "o_orderdate": _ts(odate + EPOCH.timestamp()),
        "o_orderpriority": _strings(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], orders_n),
        "o_channel": _strings(rng, ["", "web", "store", "phone", "partner"], orders_n,
                              p=[0.15, 0.4, 0.25, 0.15, 0.05]),
    })
    per = rng.integers(1, 8, orders_n)
    li_n = int(per.sum())
    l_okey = np.repeat(okey, per)
    l_line = (np.arange(li_n) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    ship = np.repeat(odate, per) + rng.integers(1, 122, li_n) * 86400
    qty = rng.integers(1, 51, li_n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": rng.integers(1, 20_001, li_n),
        "l_suppkey": rng.integers(1, 1_001, li_n),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li_n), 4),
        "l_discount": rng.integers(0, 11, li_n) / 100.0,
        "l_tax": rng.integers(0, 9, li_n) / 100.0,
        "l_returnflag": _strings(rng, ["A", "N", "R"], li_n),
        "l_linestatus": _strings(rng, ["F", "O"], li_n),
        "l_shipdate": _ts(ship + EPOCH.timestamp()),
    })
    _write(orders, out / "orders", files)
    _write(lineitem, out / "lineitem", files * 4)
    return {"orders": orders_n, "lineitem": li_n}


def fact_tables(data_root, workload):
    """Cached star tables for `dashboard` / `rollup`; returns (dir, rows)."""
    orders_n = DASHBOARD_ORDERS * (ROLLUP_SCALE if workload == "rollup" else 1)
    out = data_root / f"star-{orders_n}-v{GEN_VERSION}"
    meta = out / "rows.json"
    if not meta.exists():
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        rows = star_tables(tmp, orders_n, files=4 if workload == "dashboard" else 8)
        (tmp / "rows.json").write_text(json.dumps(rows))
        tmp.rename(out)
    return out, json.loads(meta.read_text())


# ------------------------------------------------------------ statements
#
# The scanner family: each template is CH-dialect text for graft plus a
# DuckDB twin over the same parquet (the registry's oracle convention).
# `{lo}`/`{hi}` bound a date range; other fields are drawn per statement.

TEMPLATES = [
    ("count", "lineitem",
     "SELECT count() AS n FROM lineitem WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}'",
     "SELECT count(*) AS n FROM lineitem WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}'"),
    ("sumif", "lineitem",
     "SELECT l_returnflag, countIf(l_discount >= {disc}) AS c, "
     "sumIf(l_extendedprice, l_discount >= {disc}) AS s FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY l_returnflag ORDER BY l_returnflag",
     "SELECT l_returnflag, count(*) FILTER (WHERE l_discount >= {disc}) AS c, "
     "sum(l_extendedprice) FILTER (WHERE l_discount >= {disc}) AS s FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY l_returnflag ORDER BY l_returnflag"),
    ("month", "lineitem",
     "SELECT toStartOfMonth(l_shipdate) AS m, count() AS n, sum(l_quantity) AS q FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY m ORDER BY m",
     "SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m, count(*) AS n, sum(l_quantity) AS q "
     "FROM lineitem WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY m ORDER BY m"),
    ("day", "orders",
     "SELECT toStartOfDay(o_orderdate) AS d, count() AS n, sum(o_totalprice) AS s FROM orders "
     "WHERE o_orderdate >= '{lo}' AND o_orderdate < '{hi_short}' GROUP BY d ORDER BY d",
     "SELECT date_trunc('day', o_orderdate) AS d, count(*) AS n, sum(o_totalprice) AS s FROM orders "
     "WHERE o_orderdate >= '{lo}' AND o_orderdate < '{hi_short}' GROUP BY d ORDER BY d"),
    ("quantile", "lineitem",
     "SELECT l_linestatus, quantile({q})(l_quantity) AS p FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY l_linestatus ORDER BY l_linestatus",
     "SELECT l_linestatus, quantile_cont(l_quantity, {q}) AS p FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY l_linestatus ORDER BY l_linestatus"),
    ("topk", "lineitem",
     "SELECT l_returnflag, topK({k})(l_suppkey) AS top FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY l_returnflag ORDER BY l_returnflag",
     "WITH c AS (SELECT l_returnflag, l_suppkey, count(*) AS n FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' GROUP BY 1, 2), "
     "r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, l_suppkey) AS rn FROM c) "
     "SELECT l_returnflag, list(l_suppkey ORDER BY rn) AS top FROM r WHERE rn <= {k} "
     "GROUP BY 1 ORDER BY 1"),
    ("uniq", "orders",
     "SELECT o_orderpriority, uniqExact(o_custkey) AS u FROM orders "
     "WHERE o_orderdate >= '{lo}' AND o_orderdate < '{hi}' GROUP BY o_orderpriority ORDER BY o_orderpriority",
     "SELECT o_orderpriority, count(DISTINCT o_custkey) AS u FROM orders "
     "WHERE o_orderdate >= '{lo}' AND o_orderdate < '{hi}' GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    ("argmax", "lineitem",
     "SELECT l_linestatus, argMax(l_orderkey * 10 + l_linenumber, l_extendedprice) AS k, "
     "max(l_extendedprice) AS mx FROM lineitem WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' "
     "GROUP BY l_linestatus ORDER BY l_linestatus",
     "SELECT l_linestatus, arg_max(l_orderkey * 10 + l_linenumber, l_extendedprice) AS k, "
     "max(l_extendedprice) AS mx FROM lineitem WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' "
     "GROUP BY l_linestatus ORDER BY l_linestatus"),
    ("ifempty", "orders",
     "SELECT if(empty(o_channel), 'none', o_channel) AS ch, count() AS n, sum(o_totalprice) AS s "
     "FROM orders WHERE o_orderdate >= '{lo}' AND o_orderdate < '{hi}' GROUP BY ch ORDER BY ch",
     "SELECT CASE WHEN o_channel = '' THEN 'none' ELSE o_channel END AS ch, count(*) AS n, "
     "sum(o_totalprice) AS s FROM orders WHERE o_orderdate >= '{lo}' AND o_orderdate < '{hi}' "
     "GROUP BY ch ORDER BY ch"),
    ("limit", "lineitem",
     "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' AND l_quantity >= {qty} "
     "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {n}",
     "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
     "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' AND l_quantity >= {qty} "
     "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {n}"),
]


def statements(seed, count):
    """`count` statements cycling through the templates in a fixed order
    (so every run has the same template mix); literals from the seed."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(count):
        name, table, ch, duck = TEMPLATES[i % len(TEMPLATES)]
        lo = EPOCH + dt.timedelta(days=int(rng.integers(60, DAYS - 400)))
        span = int(rng.choice([90, 180, 365, 730]))
        p = {
            "lo": lo.strftime("%Y-%m-%d %H:%M:%S"),
            "hi": (lo + dt.timedelta(days=span)).strftime("%Y-%m-%d %H:%M:%S"),
            "hi_short": (lo + dt.timedelta(days=int(rng.integers(20, 60)))).strftime("%Y-%m-%d %H:%M:%S"),
            "disc": f"{int(rng.integers(2, 9)) / 100:.2f}",
            "q": str(rng.choice(["0.25", "0.5", "0.75", "0.9"])),
            "k": int(rng.integers(3, 11)),
            "qty": int(rng.integers(5, 45)),
            "n": int(rng.choice([10, 20, 50, 100])),
        }
        out.append({"id": f"s{i}", "template": name, "table": table,
                    "sql": ch.format(**p), "oracle": duck.format(**p)})
    return out


# ---------------------------------------------------------------- ingest

INGEST_PARTS = 8
INGEST_INITIAL = 100_000
INGEST_BATCH = 20_000
INGEST_DELETE_EVERY = 3     # a partition-scoped ALTER TABLE ... DELETE after every 3rd batch


def ingest_plan(seed, work, batches):
    """Initial snapshot plus `batches` change batches (parquet), and the
    write-op sequence the writer follows. Each batch mixes new keys,
    updates to Zipf-hot keys and tombstones (is_deleted = 1); versions
    come from one global counter, so latest-version-wins is total."""
    rng = np.random.default_rng([seed, 2])
    d = work / "ingest"
    d.mkdir(parents=True, exist_ok=True)
    next_id = 0
    version = 0
    ops = []

    def batch(n_new, n_upd, n_del):
        nonlocal next_id, version
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        if next_id > n_new:
            hot = np.minimum(rng.zipf(1.3, n_upd + n_del) - 1, next_id - 1)
            upd, dele = hot[:n_upd], hot[n_upd:]
        else:
            upd = dele = np.zeros(0, dtype=np.int64)
        ids = np.concatenate([new_ids, upd, dele]).astype(np.int64)
        n = len(ids)
        versions = np.arange(version + 1, version + n + 1, dtype=np.int64)
        version += n
        return pa.table({
            "id": ids,
            "version": versions,
            "is_deleted": np.concatenate([np.zeros(len(new_ids) + len(upd), np.int8),
                                          np.ones(len(dele), np.int8)]),
            "v": rng.integers(0, 400_000, n) / 4.0,
            "p": (ids % INGEST_PARTS).astype(np.int32),
        })

    pq.write_table(batch(INGEST_INITIAL, 0, 0), d / "initial.parquet")
    for b in range(batches):
        t = batch(INGEST_BATCH // 2, INGEST_BATCH * 2 // 5, INGEST_BATCH // 10)
        pq.write_table(t, d / f"batch-{b:04d}.parquet")
        ops.append({"op": "insert", "path": str(d / f"batch-{b:04d}.parquet"), "rows": t.num_rows})
        if (b + 1) % INGEST_DELETE_EVERY == 0:
            ops.append({"op": "delete", "part": int(rng.integers(0, INGEST_PARTS)), "mod": 97,
                        "rem": int(rng.integers(0, 97))})
    return d / "initial.parquet", ops


class IngestModel:
    """The benchmark's own model of the change stream: the latest version of
    every id (as parallel arrays) after each committed write."""

    def __init__(self, initial_path):
        self.ids = np.zeros(0, np.int64)
        self.cols = [np.zeros(0, np.int64), np.zeros(0, np.int8), np.zeros(0, np.float64)]
        self._apply(pq.read_table(initial_path))

    def _apply(self, t):
        ids = np.concatenate([self.ids, t.column("id").to_numpy()])
        cols = [np.concatenate([c, t.column(n).to_numpy()])
                for c, n in zip(self.cols, ("version", "is_deleted", "v"))]
        # keep the highest version per id
        order = np.lexsort((-cols[0], ids))
        ids = ids[order]
        first = np.ones(len(ids), bool)
        first[1:] = ids[1:] != ids[:-1]
        self.ids = ids[first]
        self.cols = [c[order][first] for c in cols]

    def apply(self, op):
        if op["op"] == "insert":
            self._apply(pq.read_table(op["path"]))
        elif op["op"] == "delete":
            keep = (self.ids % INGEST_PARTS != op["part"]) | (self.ids % op["mod"] != op["rem"])
            self.ids = self.ids[keep]
            self.cols = [c[keep] for c in self.cols]

    def fingerprint(self):
        """(count, sum v, sum version) over live rows — what the reader
        selects from `cdc FINAL WHERE is_deleted = 0`."""
        live = self.cols[1] == 0
        return [int(live.sum()), float(self.cols[2][live].sum()), int(self.cols[0][live].sum())]


# -------------------------------------------------------------- pipeline

PIPE_DOCS = 4_000
PIPE_EXACT = 200        # extra verbatim copies (case/space-varied)
PIPE_NEAR = 300         # planted near-duplicate doc pairs
PIPE_VECS = 2_000
PIPE_VEC_NEAR = 200     # planted near-duplicate vector pairs
VOCAB = 3_000


def pipeline_corpus(seed, work):
    """Docs with planted near-duplicate pairs (a few tokens changed) and
    exact copies (case/space-varied), and unit vectors with planted
    near-duplicate pairs (cosine ~0.95-0.99); returns the counts."""
    rng = np.random.default_rng([seed, 3])
    d = work / "pipeline"
    d.mkdir(parents=True, exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    weights = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    weights /= weights.sum()
    texts = []
    for _ in range(PIPE_DOCS):
        texts.append(" ".join(vocab[rng.choice(VOCAB, size=int(rng.integers(40, 160)), p=weights)]))
    near = []
    for j in range(PIPE_NEAR):
        a = int(rng.integers(0, PIPE_DOCS))
        toks = texts[a].split(" ")
        k = max(1, int(len(toks) * rng.uniform(0.01, 0.04)))
        for pos in rng.choice(len(toks), size=k, replace=False):
            toks[pos] = f"{toks[pos]}x{j}"  # unique per pair: no two planted docs coincide
        texts.append(" ".join(toks))
        near.append((a, len(texts) - 1))
    for j in range(PIPE_EXACT):
        a = int(rng.integers(0, PIPE_DOCS))
        texts.append("  " + texts[a].upper().replace(" ", "   ") + " ")
    ids = np.arange(len(texts), dtype=np.int64)
    _write(pa.table({"doc_id": ids, "text": texts}), d / "docs", files=4)

    v = rng.standard_normal((PIPE_VECS, 64))
    vnear = []
    extra = []
    for j in range(PIPE_VEC_NEAR):
        a = int(rng.integers(0, PIPE_VECS))
        extra.append(v[a] + rng.standard_normal(64) * rng.uniform(0.15, 0.35))
        vnear.append((a, PIPE_VECS + j))
    v = np.vstack([v, np.array(extra)])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.astype(np.float32).ravel()), 64)
    _write(pa.table({"vec_id": np.arange(len(v), dtype=np.int64),
                     "embedding": emb.cast(pa.list_(pa.float32()))}), d / "vecs", files=4)
    (d / "near_docs.tsv").write_text("".join(f"{a}\t{b}\n" for a, b in near))
    (d / "near_vecs.tsv").write_text("".join(f"{a}\t{b}\n" for a, b in vnear))
    return {"docs": len(texts), "vecs": len(v), "exact_dups": PIPE_EXACT,
            "near_docs": len(near), "near_vecs": len(vnear)}
