"""Correctness checks, run after the JVM exits (outside every timed window).

Each check returns the set of op indexes whose outputs are wrong, plus
messages. asset_sync compares against the generator's bookkeeping;
graph_derive and stream_ingest run the queries' DuckDB oracle SQL over the
generated parquet.
"""
import glob
import json
import math
import os

import duckdb


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _rows(con, relation):
    cols = sorted(relation.columns)
    sel = con.sql(f"SELECT {', '.join(cols)} FROM relation")
    return cols, sorted(tuple(_canon(v) for v in r) for r in sel.fetchall())


def asset_sync(inputs, work, ops):
    """Per epoch: live ids per label and tenant with firstseen/lastupdated,
    rule findings (IMDSv1, public buckets, stale keys) and drift adds and
    removes must equal the generator's bookkeeping."""
    bad, msgs = set(), []
    for i in range(len(ops)):
        k = i + 1
        with open(os.path.join(inputs, f"epoch_{k:04d}", "expect.json")) as f:
            exp = json.load(f)
        path = os.path.join(work, "check", f"epoch_{k:04d}.json")
        if not os.path.exists(path):
            bad.add(i)
            msgs.append(f"epoch {k}: no output dump")
            continue
        with open(path) as f:
            got = json.load(f)
        for label, rows in exp["stamps"].items():
            want = {(rid, v[0], v[1], v[2]) for rid, v in rows.items()}
            have = {tuple(r) for r in got["stamps"][label]}
            if want != have:
                bad.add(i)
                msgs.append(f"epoch {k} {label}: {len(want - have)} expected rows missing, "
                            f"{len(have - want)} unexpected (e.g. {sorted(want ^ have)[:2]})")
        for fact, ids in exp["findings"].items():
            have = got["findings"].get(fact, [])
            if ids != have or got["counts"].get(fact, 0) != len(ids):
                bad.add(i)
                msgs.append(f"epoch {k} finding {fact}: want {len(ids)}, got {len(have)} "
                            f"(count {got['counts'].get(fact)})")
        if "drift" in exp:
            for direction in ("added", "removed"):
                have = (got["drift"] or {}).get(direction, [])
                if exp["drift"][direction] != have:
                    bad.add(i)
                    msgs.append(f"epoch {k} drift {direction}: want "
                                f"{len(exp['drift'][direction])}, got {len(have)}")
    return bad, msgs


def copurchase_edges(inputs):
    """Distinct co-purchase edges (parts sharing an order) of the input."""
    con = duckdb.connect()
    return con.sql(f"""
        SELECT count(DISTINCT (a.l_partkey, b.l_partkey))
        FROM '{inputs}/lineitem.parquet' a JOIN '{inputs}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""").fetchone()[0]


def _components_reference(con, inputs):
    """Connected components of the co-purchase slice the benchmark runs
    Fixpoint.connectedComponents on, by union-find: node → smallest id."""
    edges = con.sql(f"""
        SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        FROM '{inputs}/lineitem.parquet' a JOIN '{inputs}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey % 4 = 1 AND b.l_partkey % 4 = 1""").fetchall()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for x, y in edges:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return sorted((str(n), str(find(n))) for n in parent)


def graph_derive(inputs, work, ops, outputs):
    """The first op's outputs (written untimed) must equal their oracles,
    and every later op's fingerprints must equal the first op's."""
    con = duckdb.connect()
    for t in ("lineitem", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    with open(os.path.join(work, "check", "oracle_sql.json")) as f:
        oracles = json.load(f)
    msgs, wrong = [], []
    for name, sql in sorted(oracles.items()):
        want = _rows(con, con.sql(sql))
        got = _rows(con, con.sql(f"SELECT * FROM '{work}/check/{name}/*.parquet'"))
        if want != got:
            wrong.append(name)
            msgs.append(f"{name}: oracle mismatch ({len(want[1])} vs {len(got[1])} rows)")
    got = con.sql(f"SELECT node, component FROM '{work}/check/components/*.parquet'").fetchall()
    if sorted((str(a), str(b)) for a, b in got) != _components_reference(con, inputs):
        wrong.append("components")
        msgs.append("components: union-find mismatch")
    ref = outputs["reference"]
    bad = set()
    for i, d in enumerate(outputs["ops"]):
        diff = [n for n in d if d[n] != ref[n] or n in wrong]
        if diff:
            bad.add(i)
            msgs.append(f"op {i}: {diff} differ from the checked first op")
    if len(outputs["ops"]) != len(ops):
        bad.update(range(len(outputs["ops"]), len(ops)))
    return bad, msgs


def stream_ingest(inputs, work, ops, outputs):
    """Every round's final labels (singletons default to themselves) must
    equal the dedup_components oracle over the whole corpus."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/documents.parquet'")
    want = _rows(con, con.sql(outputs["oracle_sql"]["dedup_components"]))
    bad, msgs = set(), []
    per_round = outputs["batches_per_round"] - 1  # the resume batch is not an op
    for r in range(outputs["rounds"]):
        got = _rows(con, con.sql(f"""
            SELECT d.doc_id, coalesce(l.component, d.doc_id) AS canonical_id
            FROM documents d LEFT JOIN '{work}/check/round_{r}/*.parquet' l
              ON d.doc_id = l.doc_id"""))
        if got != want:
            bad.update(range(r * per_round, (r + 1) * per_round))
            msgs.append(f"round {r}: labels differ from the oracle")
    return {i for i in bad if i < len(ops)}, msgs


def dir_mb(*paths):
    total = 0
    for p in paths:
        for f in glob.glob(os.path.join(p, "**"), recursive=True):
            if os.path.isfile(f) and not os.path.islink(f):
                total += os.path.getsize(f)
    return total / 1048576.0
