"""Output checks. Each workload's outputs are compared with the generator's
truth or with a DuckDB oracle over the same files; the comparison follows
tools/check.py (columns sorted by name, rows in written order, exact values,
then its representation pass)."""
import glob
import json
import math
import os

import duckdb
import pandas as pd


def _cell_eq(g, e):
    if hasattr(g, "tolist"):
        g = g.tolist()
    if hasattr(e, "tolist"):
        e = e.tolist()
    if isinstance(g, float) and isinstance(e, float) and math.isnan(g) and math.isnan(e):
        return True
    if g == e:
        return True
    try:
        if g is not None and e is not None:
            return float(g) == float(e)
    except (TypeError, ValueError):
        pass
    return False


def compare(con, answer_dir, sql):
    """None when the Spark answer in `answer_dir` matches the oracle `sql`,
    else a one-line reason."""
    files = sorted(glob.glob(f"{answer_dir}/*.parquet"))
    if not files:
        return "no answer written"
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"
    got = con.execute(f"SELECT * FROM read_parquet('{answer_dir}/*.parquet')").fetchdf()
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns spark={gcols} oracle={ecols}"
    if len(got) != len(exp):
        return f"rows spark={len(got)} oracle={len(exp)}"
    for c in gcols:
        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not _cell_eq(g, e):
                return f"first diff col={c} row={i} spark={g!r} oracle={e!r}"
    pgot = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)[gcols]
    for c in gcols:
        for i, (g, e) in enumerate(zip(pgot[c].tolist(), exp[c].tolist())):
            if hasattr(g, "tolist"):
                return f"col={c} is array-valued"
            if str(g) != str(e) and not (isinstance(g, float) and isinstance(e, float)
                                         and math.isnan(g) and math.isnan(e)):
                return f"repr col={c} row={i} spark={g!r} oracle={e!r}"
    return None


OSM_TABLES = ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags"]
# the notebook queries in DuckDB, as the OsmProbes oracles state them
OSM_ORACLE = {
    "q1": """SELECT "type", "Count" FROM (
        SELECT "type", COUNT(*) AS "Count" FROM ways_tags GROUP BY "type"
        UNION ALL SELECT "type", COUNT(*) AS "Count" FROM node_tags GROUP BY "type")
        ORDER BY "Count" DESC, "type" """,
    "q1Literal": """SELECT "type", "Count" FROM (
        SELECT MIN("type") AS "type", COUNT(*) AS "Count" FROM ways_tags
        UNION ALL SELECT "type", COUNT(*) AS "Count" FROM node_tags GROUP BY "type")
        ORDER BY "Count" DESC, "type" """,
    "q2": """SELECT "type", COUNT(*) AS "Count" FROM node_tags
        GROUP BY "type" ORDER BY "Count" DESC, "type" """,
    "q3": """SELECT node.id, node.lat, node.lon, node_tags."type"
        FROM node JOIN node_tags ON node.id = node_tags.id
        WHERE node_tags."type" = 'fire_hydrant' ORDER BY node.id""",
    "q4": """SELECT "user", "Count" FROM (
        SELECT "user", COUNT(*) AS "Count" FROM ways GROUP BY "user"
        UNION SELECT "user", COUNT(*) AS "Count" FROM node GROUP BY "user")
        ORDER BY "Count" DESC, "user" LIMIT 10""",
    "q4Literal": """SELECT "user", "Count" FROM (
        SELECT MIN("user") AS "user", COUNT(*) AS "Count" FROM ways
        UNION SELECT "user", COUNT(*) AS "Count" FROM node GROUP BY "user")
        ORDER BY "Count" DESC, "user" LIMIT 10""",
    "q5Oldest": """SELECT "timestamp" FROM node ORDER BY "timestamp" LIMIT 1""",
    "q5Newest": """SELECT "timestamp" FROM node ORDER BY "timestamp" DESC LIMIT 1""",
}
CLEANED_KEYS = ["street", "phone", "postcode", "state", "city"]


def _check_osm(run, inp, out, errors, bad):
    truth = json.load(open(os.path.join(inp, "truth.json")))
    tables = run["tables_dir"]
    con = duckdb.connect()
    for t in OSM_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}/*.parquet')")
    con.execute("CREATE VIEW node AS SELECT * FROM nodes")
    con.execute("CREATE VIEW node_tags AS SELECT * FROM nodes_tags")
    for t in OSM_TABLES:
        n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        if n != truth["rows"][t]:
            errors.append(f"table {t}: {n} rows, generator wrote {truth['rows'][t]}")
            bad.add("pipeline")
    keys = ", ".join(f"'{k}'" for k in CLEANED_KEYS)
    got = {}
    for k, v, n in con.execute(
            f"""SELECT "key", "value", COUNT(*) FROM (SELECT "key", "value" FROM nodes_tags
                UNION ALL SELECT "key", "value" FROM ways_tags) WHERE "key" IN ({keys})
                GROUP BY ALL""").fetchall():
        got.setdefault(k, {})[v] = n
    for k in CLEANED_KEYS:
        want, have = truth["cleaned"].get(k, {}), got.get(k, {})
        if want != have:
            diff = sorted(set(want.items()) ^ set(have.items()))[:3]
            errors.append(f"cleaned {k} values differ from the generator's pairs: {diff}")
            bad.add("pipeline")
    for t in ("nodes_tags", "ways_tags"):
        have = dict(con.execute(f'SELECT "type", COUNT(*) FROM {t} GROUP BY 1').fetchall())
        if have != truth["types"][t]:
            errors.append(f"{t} type histogram differs from the generator's keys")
            bad.add("pipeline")
    for q, sql in OSM_ORACLE.items():
        why = compare(con, os.path.join(out, "answers", q), sql)
        if why:
            errors.append(f"{q}: {why}")
            bad.add(q)
    return truth["bytes"]


def _check_corpus(run, inp, out, errors, bad):
    truth = json.load(open(os.path.join(inp, "truth.json")))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{run['corpus_dir']}/*.parquet')")
    kept = {r[0] for r in con.execute("SELECT doc_id FROM corpus").fetchall()}
    n_dup = 0
    for g in truth["exact_dup_groups"]:
        if kept & set(g) != {min(g)}:
            n_dup += 1
    if n_dup:
        errors.append(f"{n_dup} exact-duplicate groups do not keep exactly their smallest id")
        bad.add("pipeline")
    leaked = kept & set(truth["contaminated"])
    if leaked:
        errors.append(f"{len(leaked)} contaminated documents survived, e.g. {sorted(leaked)[:5]}")
        bad.add("pipeline")
    for q, sql in run["oracle"].items():
        why = compare(con, os.path.join(out, "answers", q), sql)
        if why:
            errors.append(f"{q}: {why}")
            bad.add(q)
    return truth["text_bytes"]


def _check_probes(run, out, errors, bad):
    """Each probe of the traced pass against its DuckDB oracle over the same
    tables."""
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{run['probe_dir']}/*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    for name, sql in run["probe_oracle"].items():
        why = compare(con, os.path.join(out, "answers", name), sql)
        if why:
            errors.append(f"{name}: {why}")
            bad.add(name)


def check(workload, run, inp, out):
    """{"ok": operation name -> bool, "bad": names, "errors": [...],
    "input_bytes": n}"""
    errors, bad = [], set()
    fn = {"osm_etl": _check_osm, "corpus_pipeline": _check_corpus}[workload]
    input_bytes = fn(run, inp, out, errors, bad)
    if "probe_oracle" in run:
        _check_probes(run, out, errors, bad)
    return {"ok": lambda name: name not in bad, "bad": bad, "errors": errors,
            "input_bytes": input_bytes}
