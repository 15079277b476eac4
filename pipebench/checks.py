"""Output checks for one ingest run, made after the timed region.

* EP1: HTTP 200, `"status": "ok"`, and every silver and gold row count in the
  summary equal to the generator's count.
* Health check: HTTP 200 and the reference's greeting.
* EP2: the gold row count in its summary equal to the generator's count.
* Gold, re-read by Spark and by DuckDB after the warm-up rounds and after the
  last round: the row count and the sum of `school_count` equal the
  generator's.
* Viewer queries, captured after the warm-up rounds and after the last round:
  compared with DuckDB over the same gold parquet. The top-1 queries are
  compared on their ordering value (min/max, or the minimal rank sum), and the
  row Spark returned must exist in gold with that value, so that a tie can
  never fail a correct answer. The sample must be min(10, rows) rows of gold.

An op counts as failed when it raised, or when any check on its output, or
on the gold it wrote or read, failed.
"""
import glob
import json
import math

import duckdb

VIEWER = ["sample", "most_affordable", "best_ccrpi", "most_inclusive", "overall_best"]

# column -> (aggregate, name) for the top-1 Viewer queries
TOP1 = {
    "most_affordable": ("min", "total_cost_burden_30_plus_pct"),
    "best_ccrpi": ("max", "ccrpi_score_2023_mean"),
    "most_inclusive": ("max", "pct_inclusive_80_plus"),
}


def canon(v):
    """Canonical text of a gold value, as tools/selfcheck.py writes it."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def check_ep1(op, exp):
    if op["status"] != 200 or not op["payload"]:
        return False
    body = json.loads(op["payload"])
    if body.get("status") != "ok":
        return False
    silver = body["outputs"]["silver"]
    return (all(silver[k]["rows"] == n for k, n in exp["silver_rows"].items())
            and body["outputs"]["gold"]["county_joined"]["rows"] == exp["gold_rows"])


def check_ep2(op, exp):
    return op["payload"] is not None and json.loads(op["payload"])["rows"] == exp["gold_rows"]


def check_health(op, _exp):
    return op["status"] == 200 and "executed successfully" in (op["payload"] or "")


def viewer_checks(con, cols, capture):
    """name -> bool for one capture of the Viewer queries."""
    gold_rows = {tuple(canon(v) for v in r) for r in con.execute("SELECT * FROM gold").fetchall()}
    n = len(gold_rows)
    out = {}
    sample = capture["sample"]
    out["sample"] = (sample["columns"] == cols and len(sample["rows"]) == min(10, n)
                     and all(tuple(canon(v) for v in r) in gold_rows for r in sample["rows"]))
    for name, (agg, col) in TOP1.items():
        rows = capture[name]["rows"]
        want = con.execute(f"SELECT {agg}({col}) FROM gold WHERE {col} IS NOT NULL").fetchone()[0]
        if want is None:
            out[name] = rows == []
            continue
        out[name] = (len(rows) == 1 and rows[0][2] == want and con.execute(
            f"SELECT count(*) FROM gold WHERE county = ? AND district_name = ? AND {col} = ?",
            [rows[0][0], rows[0][1], want]).fetchone()[0] > 0)
    ranked = """SELECT county, district_name,
        rank() OVER (ORDER BY total_cost_burden_30_plus_pct ASC NULLS LAST)
      + rank() OVER (ORDER BY ccrpi_score_2023_mean DESC NULLS LAST)
      + rank() OVER (ORDER BY pct_inclusive_80_plus DESC NULLS LAST) AS s FROM gold"""
    rows = capture["overall_best"]["rows"]
    best = con.execute(f"SELECT min(s) FROM ({ranked})").fetchone()[0]
    out["overall_best"] = (len(rows) == 1 and rows[0][2] == best and con.execute(
        f"SELECT count(*) FROM ({ranked}) WHERE county = ? AND district_name = ? AND s = ?",
        [rows[0][0], rows[0][1], best]).fetchone()[0] > 0)
    return out


def evaluate(result, exp, gold_dir):
    """Mark every timed op ok or failed; return (ops, capture_ok)."""
    con = duckdb.connect()
    files = sorted(glob.glob(f"{gold_dir}/*.parquet"))
    con.execute(f"CREATE VIEW gold AS SELECT * FROM read_parquet({files!r}, hive_partitioning = false)")
    cols = [r[0] for r in con.execute("DESCRIBE gold").fetchall()]
    n, school_sum = con.execute("SELECT count(*), sum(school_count) FROM gold").fetchone()
    gold_ok = (n == exp["gold_rows"] and school_sum == exp["gold_school_count_sum"]
               and all(c["gold_count"] == exp["gold_rows"] for c in result["captures"]))
    viewer_ok = {q: True for q in VIEWER}
    for c in result["captures"]:
        for q, ok in viewer_checks(con, cols, c["viewer"]).items():
            viewer_ok[q] = viewer_ok[q] and ok
    own = {"ep1": check_ep1, "ep2": check_ep2, "health": check_health}
    ops = []
    for rnd in result["rounds"]:
        for op in rnd["ops"]:
            ok = op["error"] is None
            if ok and op["name"] in own:
                ok = own[op["name"]](op, exp) and (op["name"] == "health" or gold_ok)
            elif ok:
                ok = gold_ok and viewer_ok[op["name"].split(".", 1)[1]]
            ops.append(dict(op, ok=ok))
    return ops, gold_ok and all(viewer_ok.values())
