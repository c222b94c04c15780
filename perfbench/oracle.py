"""Output checks: the program's answers against answers computed from the
generated data alone (the generator's planted truth, DuckDB for the
query shapes), never from the program's own code.

`check` returns attempted and failed operation counts plus the problems
found; an operation whose output is wrong counts as failed.
"""

import csv
import datetime as dt
import glob
import hashlib
import os

import duckdb
import pyarrow as pa

import gen

# Spark's bround(x, d) rounds the decimal form of the double half-even;
# these macros do the same on DuckDB's shortest decimal form.
_MACROS = """
CREATE MACRO dec_(x) AS CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 28));
CREATE MACRO half_even(v) AS CASE
  WHEN v - floor(v) > 0.5 THEN floor(v) + 1
  WHEN v - floor(v) < 0.5 THEN floor(v)
  WHEN floor(v) % 2 = 0 THEN floor(v) ELSE floor(v) + 1 END;
CREATE MACRO bround2(x) AS CAST(half_even(dec_(x) * 100) AS DOUBLE) / 100;
CREATE MACRO bround4(x) AS CAST(half_even(dec_(x) * 10000) AS DOUBLE) / 10000;
"""

# The metric formulas of the reference ETL: bed occupancy 0.0 on zero
# beds, ICU ratio only when icu_beds > 0, strain clamped and rounded.
_DERIVED = """
m AS (
  SELECT *,
    CASE WHEN total > 0 THEN occ::DOUBLE / total::DOUBLE ELSE 0.0 END AS bed,
    CASE WHEN icu IS NOT NULL AND icu > 0 AND icu_occ IS NOT NULL
         THEN icu_occ::DOUBLE / icu::DOUBLE END AS icu_r
  FROM cap),
s AS (
  SELECT *, bround2(least(100.0, greatest(0.0,
      (bed * 100.0) * 0.4 + coalesce(icu_r * 100.0, bed * 100.0) * 0.6))) AS strain
  FROM m)"""

_COMPARE = """
cmp AS (
  SELECT c.grp, c.date, c.region, c.strain AS strain_index, p.strain AS prev_strain,
         c.strain - p.strain AS delta
  FROM s c JOIN targets t ON t.grp = c.grp AND t.day = c.date
  LEFT JOIN s p ON p.grp = c.grp AND p.region = c.region
                AND p.date = c.date - 1)"""


def _sums(cols):
    return ", ".join(f"sum({c})::DOUBLE AS \"sum.{c}\", (count(*) - count({c}))::BIGINT "
                     f"AS \"nulls.{c}\"" for c in cols)


def _connect():
    con = duckdb.connect()
    con.execute(_MACROS)
    return con


def _cap_table(rows):
    """rows: (grp, date, region, (total, occ, icu, icu_occ))."""
    cols = list(zip(*[(g, d, r, *v) for g, d, r, v in rows])) or [[]] * 7
    return pa.table({
        "grp": pa.array(cols[0], pa.int64()), "date": pa.array(cols[1], pa.date32()),
        "region": pa.array(cols[2], pa.string()),
        "total": pa.array(cols[3], pa.int64()), "occ": pa.array(cols[4], pa.int64()),
        "icu": pa.array(cols[5], pa.int64()), "icu_occ": pa.array(cols[6], pa.int64())})


def _records(con, sql):
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    return [dict(zip(names, row)) for row in res.fetchall()]


def _close(got, want, tol):
    return abs(got - want) <= tol + 1e-9 * abs(want)


def compare(got, want):
    """Problems between a reply's fingerprint and the expected one. Sums
    of rounded values may differ by one rounding step per tie the two
    engines break differently, so they get a small absolute tolerance."""
    out = []
    for k, w in want.items():
        if k not in got:
            out.append(f"{k} missing")
            continue
        g = got[k]
        if isinstance(w, set):
            ok = g in w
        elif k.startswith("sum.") or isinstance(w, float):
            ok = g is not None and w is not None and _close(float(g), float(w), 0.03)
            ok = ok or (g is None and w is None)
        else:
            ok = g == w
        if not ok:
            out.append(f"{k}: got {g!r}, want {w!r}")
    return out


def _compare_fps(con, state_rows, targets):
    """Expected fingerprint of the compare view (metricsCompareAt) for
    each group: `state_rows` hold each group's capacity rows, `targets`
    its (grp, day)."""
    con.register("cap", _cap_table(state_rows))
    con.register("targets", pa.table({
        "grp": pa.array([g for g, _ in targets], pa.int64()),
        "day": pa.array([d for _, d in targets], pa.date32())}))
    sql = f"""WITH {_DERIVED}, {_COMPARE}
      SELECT grp, count(*)::BIGINT AS n,
        md5(string_agg(region, chr(10) ORDER BY region)) AS keys,
        {_sums(["strain_index", "prev_strain", "delta"])}
      FROM cmp GROUP BY grp"""
    out = {}
    for r in _records(con, sql):
        fp = {k: v for k, v in r.items() if k != "grp"}
        fp["ordered"] = True
        out[r["grp"]] = fp
    return out


def _timed_ops(result):
    return [o for w in result["windows"] for o in w["ops"]]


# ---- daily_ingest ----

def _lineage(runs_dir):
    con = duckdb.connect()
    rows = _records(con, f"""
      SELECT run_id, status, rows_in, rows_loaded, rows_rejected, ended_at
      FROM read_parquet('{runs_dir}/*.parquet')""")
    final = {}
    for r in sorted(rows, key=lambda r: r["ended_at"] is not None):
        final[r["run_id"]] = r
    return final


def _reasons(rejects_dir, run_id):
    counts = {}
    for path in glob.glob(os.path.join(rejects_dir, f"capacity_rejects_{run_id}", "*.csv")):
        with open(path, newline="") as f:
            for row in csv.DictReader(f):
                counts[row["_reject_reason"]] = counts.get(row["_reject_reason"], 0) + 1
    return counts


def check_ingest(truth, result):
    ops = _timed_ops(result)
    checks = result["checks"]
    applied = checks["applied"]
    batches = truth["batches"]
    problems = {}

    def fail(i, msg):
        problems.setdefault(i, []).append(msg)

    # state after each applied batch, and who last wrote each key
    state = dict(truth["history_truth"])
    writer = {k: None for k in state}
    rows, targets = [], []
    timed = {o["i"] for o in ops if "i" in o}
    for i in range(applied):
        b = batches[i]
        gen.apply_valid(state, b["valid"])
        for key, _ in b["valid"]:
            writer[key] = i
        if i in timed:
            prev = b["day"] - dt.timedelta(1)
            for day in (prev, b["day"]):
                for region in truth["regions"]:
                    rows.append((i, day, region, state[(day, region)]))
            targets.append((i, b["day"]))
    con = _connect()
    want_fp = _compare_fps(con, rows, targets)
    lineage = _lineage(checks["runs"])
    for o in ops:
        i = o["i"]
        if o["kind"] == "error":
            fail(i, o["error"])
            continue
        p = batches[i]
        c = o["check"]
        for k in ("rows_in", "rows_loaded", "rows_rejected"):
            if c[k] != p[k]:
                fail(i, f"batch {i} result {k} {c[k]} != planted {p[k]}")
        run = lineage.get(f"batch-{i}")
        if run is None or run["status"] != "success":
            fail(i, f"batch {i} lineage row missing or not success: {run}")
        else:
            for k in ("rows_in", "rows_loaded", "rows_rejected"):
                if run[k] != p[k]:
                    fail(i, f"batch {i} lineage {k} {run[k]} != planted {p[k]}")
        got_reasons = _reasons(checks["rejects"], f"batch-{i}")
        want_reasons = {r: n for r, n in p["reasons"].items() if n}
        if got_reasons != want_reasons:
            fail(i, f"batch {i} reject reasons {got_reasons} != planted {want_reasons}")
        for msg in compare({k: v for k, v in c.items()}, want_fp[i]):
            fail(i, f"batch {i} refresh read {msg}")
    # final table: every key last-writer-wins
    got = {}
    for r in _records(con, f"SELECT * FROM read_parquet('{checks['capacity']}/*.parquet')"):
        key = (dt.date.fromisoformat(r["date"]), r["region"])
        got[key] = (r["total_beds"], r["occupied_beds"], r["icu_beds"], r["icu_occupied"])
    bad = [k for k in set(got) | set(state) if got.get(k) != state.get(k)]
    for k in bad[:5]:
        culprit = writer.get(k)
        msg = f"final row {k}: got {got.get(k)}, want {state.get(k)}"
        if culprit in timed:
            fail(culprit, msg)
        else:
            for i in timed:
                fail(i, msg)
    for k in bad[5:]:
        if writer.get(k) in timed:
            fail(writer[k], "final row mismatch")
    return dict(attempted=len(ops), failed=len(problems),
                problems=[m for i in sorted(problems) for m in problems[i]])


# ---- stream_curation ----

def check_stream(truth, result):
    """The final curated set must equal x39's DuckDB oracle (the batch
    curation funnel) over the delivered documents; every tick must have
    published a non-empty table."""
    ops = _timed_ops(result)
    c = result["checks"]
    problems = []
    failed = {o["i"] for o in ops if o["kind"] == "error"}
    problems += [o["error"] for o in ops if o["kind"] == "error"]
    for o in ops:
        if o["kind"] != "error" and o["check"]["curated_rows"] <= 0:
            failed.add(o["i"])
            problems.append(f"tick {o['i']}: empty curated table")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{c['documents']}/*.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{c['embeddings']}')")
    con.execute(f"CREATE VIEW want AS {c['oracle_sql']}")
    con.execute(f"CREATE VIEW got AS SELECT doc_id, lang_pred, scale_r FROM "
                f"read_parquet('{c['curated']}/*.parquet')")
    n_want, n_got, missing, extra = con.execute("""SELECT
        (SELECT count(*) FROM want), (SELECT count(*) FROM got),
        (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
        (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))""").fetchone()
    if missing or extra or n_want == 0:
        # a wrong final state means the ticks that built it were wrong
        failed |= {o["i"] for o in ops}
        problems.append(f"curated {n_got} rows vs batch funnel {n_want}: "
                        f"{missing} missing, {extra} extra")
    return dict(attempted=len(ops), failed=len(failed), problems=problems)


# ---- serve_api ----

def _serve_expected(truth):
    con = _connect()
    rows = [(0, d, r, v) for (d, r), v in truth["truth"].items()]
    con.register("cap", _cap_table(rows))
    days = truth["days"]
    con.register("targets", pa.table({"grp": pa.array([0] * len(days), pa.int64()),
                                      "day": pa.array(days, pa.date32())}))
    want = {}
    q = f"""WITH {_DERIVED} SELECT date,
        count(*)::BIGINT AS n, md5(string_agg(region, chr(10) ORDER BY region)) AS keys,
        {{cols}} FROM ({{inner}}) GROUP BY date"""
    cap_inner = """SELECT date, region, total AS total_beds, occ AS occupied_beds,
        icu AS icu_beds, icu_occ AS icu_occupied,
        CASE WHEN total > 0 THEN bround4(occ::DOUBLE / total::DOUBLE) END AS bed_occ_pct,
        bround4(icu_r) AS icu_occ_pct FROM s"""
    for r in _records(con, q.format(inner=cap_inner, cols=_sums(
            ["total_beds", "occupied_beds", "icu_beds", "icu_occupied", "bed_occ_pct",
             "icu_occ_pct"]))):
        want[("capacity_latest", r.pop("date"))] = r
    met_inner = """SELECT date, region, bed AS bed_occ_pct, icu_r AS icu_occ_pct,
        strain AS strain_index FROM s"""
    for r in _records(con, q.format(inner=met_inner, cols=_sums(
            ["bed_occ_pct", "icu_occ_pct", "strain_index"]))):
        want[("metrics_latest", r.pop("date"))] = r
    dash = _records(con, f"""WITH {_DERIVED}, {_COMPARE},
      t AS (SELECT *, coalesce(delta, 0.0) AS delta_display,
              CASE WHEN strain_index > 80 THEN 'CRISIS'
                   WHEN strain_index >= 70 THEN 'ELEVATED' ELSE 'STABLE' END AS band,
              max(strain_index) OVER (PARTITION BY date) AS day_max
            FROM cmp)
      SELECT date, count(*)::BIGINT AS n,
        md5(string_agg(region || '|' || band, chr(10) ORDER BY region || '|' || band)) AS keys,
        {_sums(["strain_index", "prev_strain", "delta", "delta_display"])},
        avg(strain_index) AS mean_strain, count(*) FILTER (strain_index > 80)::BIGINT AS crisis,
        max(strain_index) AS top_strain,
        list(region) FILTER (strain_index = day_max) AS top_regions
      FROM t GROUP BY date""")
    for r in dash:
        fp = {k: r[k] for k in r if k == "n" or k == "keys" or k.startswith(("sum.", "nulls."))}
        fp.update({"ordered": True, "kpi.n": 1, "kpi.row.mean_strain": r["mean_strain"],
                   "kpi.row.crisis_count": r["crisis"], "kpi.row.top_strain": r["top_strain"],
                   "kpi.row.top_region": set(r["top_regions"])})
        want[("dashboard", r["date"])] = fp
    dates = sorted({d for d, _ in truth["truth"]})
    per_date = {}
    for d, _ in truth["truth"]:
        per_date[d] = per_date.get(d, 0) + 1
    cov = {"n": len(dates), "keys": hashlib.md5("\n".join(
        d.isoformat() for d in dates).encode()).hexdigest(),
        "sum.rows": float(sum(per_date.values())), "nulls.rows": 0,
        "best.n": 1, "best.row.best_date": dates[-1].isoformat(),
        "best.row.rows": per_date[dates[-1]]}
    want[("coverage", None)] = cov
    want[("available_dates", None)] = {
        "n": 1, "row.min_date": dates[0].isoformat(), "row.max_date": dates[-1].isoformat(),
        "row.n_dates": len(dates)}
    runs = [("hist|hhs|success", truth["history_rows"], truth["history_rows"], 0),
            ("metrics-full|compute_metrics|success", truth["history_rows"],
             truth["history_rows"], 0)]
    for i, b in enumerate(truth["batches"]):
        runs.append((f"batch-{i}|hhs|success", b["rows_in"], b["rows_loaded"],
                     b["rows_rejected"]))
    want[("runs", None)] = {
        "n": len(runs), "keys": hashlib.md5("\n".join(sorted(r[0] for r in runs))
                                            .encode()).hexdigest(),
        **{f"sum.{c}": float(sum(r[j] for r in runs)) for j, c in
           [(1, "rows_in"), (2, "rows_loaded"), (3, "rows_rejected")]},
        **{f"nulls.{c}": 0 for c in ("rows_in", "rows_loaded", "rows_rejected")}}
    look = _records(con, f"""WITH {_DERIVED} SELECT region, count(*)::BIGINT AS n,
        md5(string_agg(strftime(date, '%Y-%m-%d'), chr(10) ORDER BY date)) AS keys,
        {_sums(["total", "occ", "icu", "icu_occ"])} FROM s GROUP BY region""")
    names = {"total": "total_beds", "occ": "occupied_beds", "icu": "icu_beds",
             "icu_occ": "icu_occupied"}
    for r in look:
        fp = {"n": r["n"], "keys": r["keys"]}
        for short, long in names.items():
            fp[f"sum.{long}"] = r[f"sum.{short}"]
            fp[f"nulls.{long}"] = r[f"nulls.{short}"]
        want[("region_lookup", r["region"])] = fp
    return want


def check_serve(truth, result):
    want = _serve_expected(truth)
    ops = _timed_ops(result)
    problems, failed = [], 0
    for o in ops:
        if o["kind"] == "error":
            failed += 1
            problems.append(o["error"])
            continue
        c = o["check"]
        ep = c["endpoint"]
        key = (dt.date.fromisoformat(c["day"]) if ep in (
            "capacity_latest", "metrics_latest", "dashboard")
            else c["region"] if ep == "region_lookup" else None)
        msgs = compare(c, want[(ep, key)])
        if msgs:
            failed += 1
            problems += [f"{ep} {c['day']} {c['region']}: {m}" for m in msgs[:3]]
    return dict(attempted=len(ops), failed=failed, problems=problems)


def check(workload, truth, result):
    return {"daily_ingest": check_ingest, "stream_curation": check_stream,
            "serve_api": check_serve}[workload](truth, result)
