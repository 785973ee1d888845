"""Output checks, run after the timed window of every run.

Each check returns (name, ok, detail). A check that fails counts as a
failed operation of the run.
"""

import datetime as dt
import decimal
import glob
import json
import os

import duckdb

# ORDER BY key of each table (clickhouse.go's MergeTree keys, as
# graft.sources.OutputWriters writes them)
SORT_KEYS = {
    "records": ["org_name", "report_id", "source_ip_address", "begin_date"],
    "reports": ["org_name", "report_id", "begin_date"],
    "forensic": ["arrival_date", "source_ip"],
    "tls_reports": ["begin_date", "organization_name"],
    "tls_failures": ["report_id", "result_type"],
}


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _table(path):
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning=true)"


def _months(path):
    return sorted(d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("report_month="))


def _sorted_files(path, keys):
    import pyarrow.parquet as pq
    bad = []
    for f in sorted(glob.glob(f"{path}/*/*.parquet")):
        cols = pq.read_table(f, columns=keys).to_pydict()
        rows = list(zip(*(cols[k] for k in keys)))
        if any(rows[i] > rows[i + 1] for i in range(len(rows) - 1)):
            bad.append(os.path.basename(f))
    return bad


def ingest(out, manifest, result, ingest_month):
    con = _con()
    checks = []

    def add(name, ok, detail=""):
        checks.append((name, bool(ok), detail))

    tables = manifest["tables"]
    for t, sum_col in (("records", "count"), ("reports", None), ("forensic", None),
                       ("tls_reports", None)):
        path = f"{out}/{t}"
        want = {m: (v["rows"], v.get("sum_count")) for m, v in tables[t].items()}
        s = f"sum({sum_col})" if sum_col else "NULL"
        got = {str(m): (n, None if x is None else int(x)) for m, n, x in con.execute(
            f"SELECT CAST(report_month AS VARCHAR), count(*), {s} FROM {_table(path)} GROUP BY 1"
        ).fetchall()}
        add(f"{t}: rows and sum(count) per month", got == want,
            "" if got == want else f"got {sorted(got.items())[:3]} want {sorted(want.items())[:3]}")
        add(f"{t}: month directories", _months(path) == sorted(want), str(_months(path)))
        bad = _sorted_files(path, SORT_KEYS[t])
        add(f"{t}: files sorted on {','.join(SORT_KEYS[t])}", not bad, str(bad[:3]))

    path = f"{out}/tls_failures"
    n, s = con.execute(f"SELECT count(*), sum(failed_session_count) FROM {_table(path)}").fetchone()
    want = manifest["tls_failures"]
    add("tls_failures: rows and failed sessions", (n, int(s or 0)) == (want["rows"], want["failed_sessions"]),
        f"got {(n, s)} want {want}")
    add("tls_failures: ingest month directory", _months(path) == [ingest_month], str(_months(path)))
    bad = _sorted_files(path, SORT_KEYS["tls_failures"])
    add("tls_failures: files sorted on report_id,result_type", not bad, str(bad[:3]))

    got = {o: (r, int(c)) for o, r, c in con.execute(
        f"SELECT org_name, count(*), sum(count) FROM {_table(out + '/records')} GROUP BY 1").fetchall()}
    want = {o: (v["records"], v["sum_count"]) for o, v in manifest["orgs"].items()}
    add("records: rows and sum(count) per org", got == want)

    n, s = con.execute(
        f"SELECT count(*), sum(count) FROM read_csv('{out}/csv/*.csv', header=true)").fetchone()
    add("csv export: rows and sum(count)", (n, int(s or 0)) == (manifest["records_total"],
                                                             manifest["sum_count_total"]),
        f"got {(n, s)}")

    add("rejected files equal the planted invalid files", result["rejected"] == manifest["invalid"],
        f"rejected {result['rejected']} planted {manifest['invalid']}")
    add("listed files equal the generated files", result["listed"] == manifest["files"],
        f"listed {result['listed']} generated {manifest['files']}")
    return checks


# ---- dashboard: every panel against DuckDB over the same parquet ----------

def _norm(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 20 and v[10:11] == "T" and v.endswith("Z"):
        return v[:19]          # java Instant text
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= 0.0101 if (isinstance(a, float) or isinstance(b, float)) else a == b
    return a == b


PANEL_SQL = {
    "daily_volume": "SELECT CAST(begin_date AS DATE), sum(count) FROM r GROUP BY 1 ORDER BY 1",
    "total_messages": "SELECT sum(count) FROM rec WHERE begin_date >= TIMESTAMP '{since}'",
    "compliance_rate": "SELECT round(CAST(sum(CAST(dmarc_aligned AS INT) * count) AS DOUBLE) * 100.0"
                       " / sum(count), 2) FROM r",
    "pass_fail": "SELECT CASE WHEN dmarc_aligned THEN 'Pass' ELSE 'Fail' END s, sum(count) m"
                 " FROM r GROUP BY 1 ORDER BY m DESC",
    "dispositions": "SELECT disposition, sum(count) m FROM r GROUP BY 1 ORDER BY m DESC, disposition",
    "top_countries": "SELECT source_country, sum(count) m FROM r WHERE source_country <> 'Unknown'"
                     " GROUP BY 1 ORDER BY m DESC, source_country LIMIT 10",
    "org_compliance": "SELECT org_name, sum(count) m, round(CAST(sum(CAST(dmarc_aligned AS INT) * count)"
                      " AS DOUBLE) * 100.0 / sum(count), 2) FROM r GROUP BY 1"
                      " ORDER BY m DESC, org_name LIMIT 20",
    "top_sources": "SELECT source_ip_address, source_reverse_dns, source_country, sum(count) m,"
                   " round(CAST(sum(CAST(dmarc_aligned AS INT) * count) AS DOUBLE) * 100.0"
                   " / sum(count), 2) FROM r GROUP BY 1, 2, 3 HAVING sum(count) > 100"
                   " ORDER BY m DESC, source_ip_address LIMIT 50",
    "forensic_per_day": "SELECT CAST(arrivalDate AS DATE), count(*) FROM f GROUP BY 1 ORDER BY 1",
    "feedback_types": "SELECT feedbackType, count(*) n FROM f GROUP BY 1 ORDER BY n DESC, feedbackType",
    "delivery_results": "SELECT deliveryResult, count(*) n FROM f GROUP BY 1"
                        " ORDER BY n DESC, deliveryResult",
    "top_reported_domains": "SELECT reportedDomain, count(*) n, count(DISTINCT source.ipAddress),"
                            " list_sort(list(DISTINCT authFailure)) FROM f GROUP BY 1"
                            " ORDER BY n DESC, reportedDomain LIMIT 20",
    "forensic_top_countries": "SELECT source.country, count(*) n FROM fo"
                              " WHERE arrivalDate >= TIMESTAMP '{since}' AND source.country <> 'Unknown'"
                              " GROUP BY 1 ORDER BY n DESC, 1 LIMIT 10",
    "top_forensic_sources": "SELECT source.ipAddress, source.reverseDns, source.country, count(*) n,"
                            " count(DISTINCT reportedDomain), max(arrivalDate) FROM f GROUP BY 1, 2, 3"
                            " ORDER BY n DESC, 1 LIMIT 50",
    "tls_failure_breakdown": "SELECT result_type, count(*), sum(failed_session_count) s FROM tf"
                             " GROUP BY 1 ORDER BY s DESC, result_type",
    "tls_session_success": "SELECT policy_domain, sum(successful_session_count) ok,"
                           " sum(failed_session_count) bad, round(CAST(sum(successful_session_count)"
                           " AS DOUBLE) * 100.0 / (sum(successful_session_count)"
                           " + sum(failed_session_count)), 2) FROM t GROUP BY 1 ORDER BY 1",
}


def dashboard(tables, result, window_start, full_start):
    con = _con()
    con.execute(f"CREATE VIEW rec AS SELECT * FROM {_table(tables + '/records')}")
    con.execute(f"CREATE VIEW fo AS SELECT * FROM {_table(tables + '/forensic')}")
    con.execute(f"CREATE VIEW trep AS SELECT * FROM {_table(tables + '/tls_reports')}")
    con.execute(f"CREATE VIEW tf AS SELECT * FROM {_table(tables + '/tls_failures')}")
    checks = []
    for mode, since in (("window", window_start), ("full", full_start)):
        got = result.get(f"panels_{mode}")
        if got is None:
            checks.append((f"{mode}: panels ran", False, "no refresh of this kind"))
            continue
        cond = f"begin_date >= TIMESTAMP '{since}'" if mode == "window" else "true"
        fcond = f"arrivalDate >= TIMESTAMP '{since}'" if mode == "window" else "true"
        con.execute(f"CREATE OR REPLACE VIEW r AS SELECT * FROM rec WHERE {cond}")
        con.execute(f"CREATE OR REPLACE VIEW f AS SELECT * FROM fo WHERE {fcond}")
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM trep WHERE {cond}")
        for name, sql in PANEL_SQL.items():
            want = [_norm(list(r)) for r in con.execute(sql.format(since=since)).fetchall()]
            have = [_norm(r) for r in got.get(name, [])]
            ok = _same(have, want)
            checks.append((f"{mode}: panel {name} matches DuckDB", ok,
                           "" if ok else f"got {have[:3]} want {want[:3]}"))
        doc = json.loads(got["summary"][0][0])
        q = lambda s: con.execute(s).fetchone()[0]
        m = doc["metrics"]
        want = {
            "records_total": q("SELECT count(*) FROM r"),
            "messages_total": int(q("SELECT coalesce(sum(count), 0) FROM r")),
            "aggregate": q("SELECT count(DISTINCT report_id) FROM r"),
            "forensic": q("SELECT count(*) FROM f"),
            "smtp_tls": q("SELECT count(*) FROM t"),
            "compliance_rate": q(PANEL_SQL["compliance_rate"]),
        }
        have = {"records_total": m["records_total"], "messages_total": m["messages_total"],
                **m["parsedmarc_parser_reports_total"],
                "compliance_rate": doc["summary"]["compliance_rate"]}
        ok = _same([have[k] for k in sorted(want)], [want[k] for k in sorted(want)])
        checks.append((f"{mode}: summary document matches DuckDB", ok,
                       "" if ok else f"got {have} want {want}"))
    return checks


# prepareWeb stages before the near-duplicate step: they do not depend on
# which signature hash the call uses
HASH_FREE_STAGES = ("raw", "warc_fetch", "robots_gate", "url_dedup", "filter_gopher",
                    "filter_gopher_rep", "filter_c4", "filter_fineweb", "exact_dedup")


def web(result, planted, n_docs, documents):
    """prepareWeb's stage counts against the d_web_pipeline entry's own
    DuckDB recomputation over the same documents, and the probe pairs
    against the planted excerpts."""
    checks = []
    stages = dict((k, v) for k, v in result.get("stages", []))
    checks.append(("prepareWeb raw stage counts every generated document",
                   stages.get("raw") == n_docs, str(stages)))
    oracle_hash = [(k, v) for k, v in result.get("stages_oracle_hash", [])]
    want = []
    if result.get("oracle_sql"):
        con = _con()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}')")
        want = [(s, int(n)) for _, s, n in con.execute(result["oracle_sql"]).fetchall()]
    checks.append(("prepareWeb(oracleHash) stage counts match the DuckDB recomputation",
                   bool(want) and oracle_hash == want, f"spark {oracle_hash} duckdb {want}"))
    hash_free = [(s, stages.get(s)) for s in HASH_FREE_STAGES]
    checks.append(("prepareWeb stage counts up to exact_dedup match the DuckDB recomputation",
                   bool(want) and hash_free == [(s, dict(want).get(s)) for s in HASH_FREE_STAGES],
                   f"spark {hash_free}"))
    pairs = {tuple(p) for p in result.get("pairs", [])}
    missed = [p for p in planted if p not in pairs and (p[1], p[0]) not in pairs]
    checks.append(("containmentProbePairs finds every planted excerpt", not missed,
                   f"missed {len(missed)} of {len(planted)}"))
    return checks
