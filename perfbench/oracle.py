"""Output checks for a benchmark run, against DuckDB.

Each check replays a registry query's oracle SQL in DuckDB over the same
generated parquet files and compares the rows exactly, with the
normalization of ``scripts/check_oracle.py``: columns sorted by name, rows
sorted, floats compared through ``repr`` (bitwise).
"""
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            vals.append(str(v) if v is not None else "\x00NULL")
        out.append(tuple(vals))
    out.sort()
    return [colnames[i] for i in order], out


def _connect(views, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name, sql in views.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def _table_views(data_dir):
    return {os.path.splitext(os.path.basename(f))[0]:
            f"SELECT * FROM read_parquet('{f}')"
            for f in glob.glob(os.path.join(data_dir, "*.parquet"))}


def check_dumps(data_dir, out_dir, dumps, oracle_sql, tmp_dir):
    """Registry-query checks: each Spark output dump (``dumps`` maps the
    dump's directory name to its registry query) against the query's oracle
    SQL. Returns {dump: error or None}."""
    con = _connect(_table_views(data_dir), tmp_dir)
    res = {}
    for name, query in dumps.items():
        files = sorted(glob.glob(os.path.join(out_dir, "check", name, "*.parquet")))
        if not files:
            res[name] = "no spark output"
            continue
        got_rows, got_cols = [], None
        for f in files:
            t = pq.read_table(f)
            got_cols = t.column_names
            got_rows += [tuple(r[c] for c in got_cols) for r in t.to_pylist()]
        try:
            cur = con.execute(oracle_sql[query])
            exp_rows = cur.fetchall()
            exp_cols = [d[0] for d in cur.description]
        except duckdb.Error as e:
            res[name] = f"oracle error: {e}"
            continue
        gc, gr = normalize(got_rows, got_cols)
        ec, er = normalize(exp_rows, exp_cols)
        if gc != ec:
            res[name] = f"columns differ: spark={gc} duckdb={ec}"
        elif gr != er:
            res[name] = f"{len(gr)} spark rows vs {len(er)} duckdb rows differ"
        else:
            res[name] = None
    return res


def _sub_once(sql, old, new):
    if sql.count(old) != 1:
        raise ValueError(f"expected exactly one {old!r} in the oracle SQL")
    return sql.replace(old, new)


# the registry oracles serve a fixed query set; the benchmark swaps in each
# op's query ids
QUERY_PREDICATES = {
    "ivf": ("q.vec_id < 10", "q.vec_id IN ({ids})"),
    "pq": ("e.vec_id < 10", "e.vec_id IN ({ids})"),
    "bm25": ("doc_id % 41 = 0", "doc_id IN ({ids})"),
}


def rrf(lists, top_k=10, c=60):
    """Reciprocal-rank fusion with `graft.ext.Retrieval.rrfFuse`'s
    arithmetic: per-list contribution floor(1e6 / (c + rank)) as an
    integer, summed, then divided by 1e6; ties broken by doc id."""
    acc = {}
    for rows in lists:
        for qid, doc, rank in rows:
            k = (qid, doc)
            n, s = acc.get(k, (0, 0))
            acc[k] = (n + 1, s + int(math.floor(1.0 / (float(c) + float(rank)) * 1000000.0)))
    by_q = {}
    for (qid, doc), (n, s) in acc.items():
        by_q.setdefault(qid, []).append((doc, n, float(s) / 1000000.0))
    out = []
    for qid, cands in by_q.items():
        cands.sort(key=lambda x: (-x[2], x[0]))
        for r, (doc, n, score) in enumerate(cands[:top_k], start=1):
            out.append((qid, doc, n, score, r))
    return out


def check_retrieval(data_dir, outputs, oracle_sql, tmp_dir):
    """Every recorded query op against the oracle over the store contents
    at that point of the stream. Returns a list of per-op errors (None for
    a pass), in op order."""
    emb = os.path.join(data_dir, "embeddings.parquet")
    docs = os.path.join(data_dir, "documents.parquet")
    by_state = {}
    for i, o in enumerate(outputs):
        by_state.setdefault((o["vec_end"], o["doc_end"]), []).append(i)
    errors = [None] * len(outputs)
    for (vec_end, doc_end), idx in by_state.items():
        con = _connect({
            "embeddings": f"SELECT * FROM read_parquet('{emb}') WHERE vec_id < {vec_end}",
            "documents": f"SELECT * FROM read_parquet('{docs}') WHERE doc_id < {doc_end}"},
            tmp_dir)
        qids = sorted({q for i in idx for q in outputs[i]["qids"]})
        ids = ", ".join(str(q) for q in qids)
        exp = {}
        for kind, (old, new) in QUERY_PREDICATES.items():
            cur = con.execute(_sub_once(oracle_sql[kind], old, new.format(ids=ids)))
            exp[kind] = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        for i in idx:
            o = outputs[i]
            mine = set(o["qids"])
            for kind in ("ivf", "pq", "bm25"):
                cols, rows = exp[kind]
                want = [r for r in rows if r[cols.index("qid")] in mine]
                ec, er = normalize(want, cols)
                gc, gr = normalize([tuple(r) for r in o[kind]], o[f"{kind}_cols"])
                if ec != gc or er != gr:
                    errors[i] = f"{kind}: {len(gr)} rows vs {len(er)} oracle rows differ"
                    break
            if errors[i] is None:
                lists = []
                for kind, doc_col in (("ivf", "neighbor_id"), ("pq", "neighbor_id"),
                                      ("bm25", "doc_id")):
                    cols, rows = exp[kind]
                    qi, di, ri = (cols.index("qid"), cols.index(doc_col),
                                  cols.index("rank"))
                    lists.append([(r[qi], r[di], r[ri]) for r in rows if r[qi] in mine])
                names = ["qid", "doc_id", "n_lists", "rrf_score", "rank"]
                _, er = normalize(rrf(lists), names)
                _, gr = normalize([tuple(r) for r in o["rrf"]], names)
                if er != gr:
                    errors[i] = f"rrf: {len(gr)} rows vs {len(er)} oracle rows differ"
    return errors
