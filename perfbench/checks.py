"""Output checks, run after the timed run: every result the program
produced is compared with an independent DuckDB computation over the
same generated inputs. Each check returns a list of (name, ok, detail).
"""
import decimal
import math
import time
from pathlib import Path

import duckdb

UPSTREAM = ("customer", "supplier", "part", "orders", "lineitem")


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else v.hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, _cell(x)) for k, x in v.items())))
    return (type(v).__name__, str(v))


def frame(con, sql, drop=()):
    """(sorted column names, sorted normalized rows) of a query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    keep = sorted((c, i) for i, c in enumerate(cols) if c not in drop)
    rows = sorted(tuple(_cell(r[i]) for _, i in keep) for r in cur.fetchall())
    return [c for c, _ in keep], rows


def parquet(path):
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet')"


def same(con, name, spark_sql, oracle_sql, drop=()):
    t0 = time.perf_counter()
    try:
        sc, sr = frame(con, spark_sql, drop)
        oc, orows = frame(con, oracle_sql, drop)
    except duckdb.Error as e:
        return (name, False, f"query error: {e}")
    if sc != oc:
        return (name, False, f"columns {sc} != {oc}")
    if sr != orows:
        extra = sorted(set(sr) - set(orows))[:2]
        missing = sorted(set(orows) - set(sr))[:2]
        return (name, False, f"{len(sr)} vs {len(orows)} rows; "
                f"spark-only {extra} oracle-only {missing}")
    return (name, True, f"{len(sr)} rows, {time.perf_counter() - t0:.1f} s")


def upstream(day_dir):
    con = duckdb.connect()
    for t in UPSTREAM:
        con.execute(f"CREATE VIEW {t} AS "
                    f"{parquet(Path(day_dir) / (t + '.parquet'))}")
    return con


def _close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= rel * max(1.0, abs(float(a)),
                                                 abs(float(b)))


def _num(s):
    return None if s in ("null", "None", "") else float(s)


def _answer(q, order, category, prev_counts):
    """Whether the recorded rows of one stakeholder query match what the
    oracle's reports give for the same parameters."""
    rows = q["rows"]
    kind = q["kind"]
    if kind == "range":
        sel = [r for r in order if q["lo"] <= str(r[0]) <= q["hi"]]
        n, s = rows[0].split("|")
        return int(n) == len(sel) and _close(
            _num(s), sum(r[1] for r in sel) if sel else None, 1e-6)
    if kind == "category":
        sel = [r for r in category if r[2] == q["category"]
               and q["lo"] <= str(r[0]) <= q["hi"]]
        n, mean, median = rows[0].split("|")
        return (int(n) == len(sel)
                and _close(_num(mean), max((r[3] for r in sel), default=None))
                and _close(_num(median), max((r[4] for r in sel), default=None)))
    if kind == "top":
        want = sorted(order, key=lambda r: (-r[1], str(r[0])))[:q["k"]]
        got = [r.split("|") for r in rows]
        return len(got) == len(want) and all(
            g[0] == str(w[0]) and _close(_num(g[1]), w[1], 1e-6)
            for g, w in zip(got, want))
    if kind in ("pinned_order", "pinned_category"):
        return int(rows[0]) == prev_counts[kind]
    raise ValueError(f"unknown query kind {kind}")


def medallion(facts):
    out = []
    oracle = facts["oracle"]
    by_day = {}
    for a in facts["answers"]:
        by_day.setdefault(a["day"], []).append(a)
    for day in facts["days"]:
        d = day["day"]
        con = upstream(day["dir"])
        check = Path(day["check"])
        out.append(same(con, f"day {d} daily_order_report",
                        parquet(check / "order_report"),
                        oracle["pipeline_daily_order_report"]))
        out.append(same(con, f"day {d} daily_category_report",
                        parquet(check / "category_report"),
                        oracle["pipeline_daily_category_report"]))
        order = con.execute(
            "SELECT order_date, revenue FROM ("
            + oracle["pipeline_daily_order_report"] + ")").fetchall()
        category = con.execute(
            "SELECT order_date, category_id, category_name, mean_revenue, "
            "median_revenue FROM ("
            + oracle["pipeline_daily_category_report"] + ")").fetchall()
        prev = upstream(day["prev_dir"])
        prev_counts = {
            "pinned_order": prev.execute(
                "SELECT count(*) FROM ("
                + oracle["pipeline_daily_order_report"] + ")").fetchone()[0],
            "pinned_category": prev.execute(
                "SELECT count(*) FROM ("
                + oracle["pipeline_daily_category_report"] + ")").fetchone()[0]}
        for q in by_day.get(d, []):
            ok = _answer(q, order, category, prev_counts)
            out.append((f"day {d} query {q['kind']}", ok,
                        "" if ok else f"{q} vs oracle"))
    con = duckdb.connect()
    out.append(same(con, "replica == gold", parquet(facts["replica"]),
                    parquet(facts["gold"])))
    out.append(same(con, "change log == gold", parquet(facts["changelog"]),
                    parquet(facts["gold"]),
                    drop=("_change_type", "_commit_version",
                          "_commit_timestamp")))
    kinds = con.execute("SELECT DISTINCT _change_type FROM ("
                        + parquet(facts["changelog"]) + ")").fetchall()
    out.append(("change log holds inserts only", kinds == [("insert",)],
                str(kinds)))
    return out


def curation(facts):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{Path(facts['corpus']) / (t + '.parquet')}')")
    return [same(con, name, parquet(facts["outputs"][name]), sql)
            for name, sql in sorted(facts["oracle"].items())]


CHECKS = {"medallion_daily": medallion, "curation_ops": curation}
