"""Seeded input generators for the DMARC benchmark.

Everything here is written by hand from the report formats in RFC 7489
(aggregate XML, appendix C), RFC 6591 / RFC 5965 (ARF failure reports)
and RFC 8460 (SMTP TLS reporting JSON). Nothing is downloaded. The same
seed always yields byte-identical files.

`ingest_corpus` writes the report backlog for the `dmarc_ingest`
workload plus a ground-truth manifest; `web_documents` writes the
document table for the `web_prepare` workload.
"""

import base64
import datetime as dt
import gzip
import io
import json
import os
import random
import zipfile

# First octets that graft.functions.GeoEnrichment.Fixture maps to a
# country, and octets it leaves unmatched ("Unknown").
FIXTURE_OCTETS = [3, 10, 12, 13, 17, 23, 31, 47, 59, 71, 72, 83, 97, 100,
                  101, 109, 113, 127, 139, 151, 167, 198, 199]
OTHER_OCTETS = [5, 45, 64, 88, 185, 203, 212, 234]

ORGS = ["google.com", "yahoo.com", "outlook.com", "mail.ru", "comcast.net",
        "fastmail.com", "zoho.com", "protonmail.ch", "gmx.net", "qq.com",
        "yandex.ru", "aol.com"]
DOMAINS = ["example.com", "example.org", "shop.example", "news.example",
           "corp.example", "billing.example"]
DISPOSITIONS = ["none", "none", "none", "quarantine", "reject"]
DELIVERY = ["delivered", "spam", "policy", "reject", "other"]
TLS_RESULTS = ["starttls-not-supported", "certificate-expired",
               "certificate-host-mismatch", "validation-failure",
               "sts-policy-fetch-error", "tlsa-invalid"]

# 13 calendar months of report begin dates: 2025-01-01 .. 2026-01-31 UTC.
EPOCH0 = int(dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc).timestamp())
DAYS = 396

# Corpus shape. Sizes are fixed; the seed only moves values around, so
# every seed does the same amount of work.
N_AGG_SMALL = 300          # 1-10 records each
LARGE_SIZES = (1000, 2500)   # records of the few large reports
N_FORENSIC = 75
N_TLS = 75
# Shares. The RFCs fix only which wrapper is the norm: RFC 7489 section
# 7.2.1.1 says aggregate XML SHOULD be gzip-compressed (file extension
# "xml.gz", else "xml"), and RFC 8460 section 5 says the same of TLS
# reports. So gzip is the largest share of each family. The figures
# themselves are unverified choices, as are GEO_SHARE, the record count
# distribution, the disposition weights and the invalid-file counts:
# no published measurement of a real report mix was at hand. Every
# wrapper stays present so that each decode path runs.
GEO_SHARE = 0.7            # share of source IPs inside fixture prefixes
# .zip is not in RFC 7489, but some report senders use it and the
# readers accept it; .eml is the report mail as RFC 7489 delivers it
AGG_WRAPPERS = [("gz", 0.50), ("eml", 0.20), ("zip", 0.15), ("xml", 0.15)]
EML_GZ_SHARE = 0.75        # gzip attachments among the .eml reports
TLS_GZ_SHARE = 0.75
# planted invalid files per family (each rejected by its parser)
INVALID = {"aggregate": 9, "forensic": 3, "tls": 3}


def month_of(epoch_s):
    t = dt.datetime.fromtimestamp(epoch_s, tz=dt.timezone.utc)
    return f"{t.year:04d}{t.month:02d}"


def _ip(rng):
    first = rng.choice(FIXTURE_OCTETS) if rng.random() < GEO_SHARE \
        else rng.choice(OTHER_OCTETS)
    return f"{first}.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def _bump(table, key, **adds):
    row = table.setdefault(key, {})
    for k, v in adds.items():
        row[k] = row.get(k, 0) + v


# ---- aggregate (RFC 7489) -------------------------------------------------

def _agg_record(rng):
    hf = rng.choice(DOMAINS)
    dkim = rng.choice(["pass", "pass", "fail"])
    spf = rng.choice(["pass", "pass", "fail"])
    count = 1 + int(rng.paretovariate(1.2)) % 5000
    reason = ""
    if rng.random() < 0.05:
        reason = ("<reason><type>forwarded</type>"
                  "<comment>known forwarder</comment></reason>")
    env_from = f"<envelope_from>{hf}</envelope_from>" if rng.random() < 0.5 else ""
    xml = (f"<record><row><source_ip>{_ip(rng)}</source_ip><count>{count}</count>"
           f"<policy_evaluated><disposition>{rng.choice(DISPOSITIONS)}</disposition>"
           f"<dkim>{dkim}</dkim><spf>{spf}</spf>{reason}</policy_evaluated></row>"
           f"<identifiers>{env_from}<header_from>{hf}</header_from></identifiers>"
           f"<auth_results><dkim><domain>{hf}</domain><selector>s{rng.randrange(4)}"
           f"</selector><result>{dkim}</result></dkim><spf><domain>{hf}</domain>"
           f"<scope>mfrom</scope><result>{spf}</result></spf></auth_results></record>")
    return xml, count


def _agg_report(rng, report_id, org, begin, n_records, span_s=86399):
    recs = [_agg_record(rng) for _ in range(n_records)]
    domain = rng.choice(DOMAINS)
    p = rng.choice(["none", "quarantine", "reject"])
    xml = ('<?xml version="1.0" encoding="UTF-8"?>\n<feedback><version>1.0</version>'
           f"<report_metadata><org_name>{org}</org_name>"
           f"<email>noreply-dmarc@{org}</email><report_id>{report_id}</report_id>"
           f"<date_range><begin>{begin}</begin><end>{begin + span_s}</end></date_range>"
           f"</report_metadata><policy_published><domain>{domain}</domain>"
           f"<adkim>r</adkim><aspf>r</aspf><p>{p}</p><pct>100</pct></policy_published>"
           + "".join(r for r, _ in recs) + "</feedback>\n")
    return xml.encode(), sum(c for _, c in recs)


def _gz(data):
    return gzip.compress(data, compresslevel=6, mtime=0)


def _zip(name, data):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        info = zipfile.ZipInfo(name, date_time=(2025, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, data)
    return buf.getvalue()


def _eml(frm, subject, parts, boundary):
    out = [f"From: {frm}", "To: dmarc@example.com", f"Subject: {subject}",
           "Date: Mon, 02 Feb 2026 10:00:00 +0000", "MIME-Version: 1.0",
           f'Content-Type: multipart/mixed; boundary="{boundary}"', ""]
    for headers, body in parts:
        out += [f"--{boundary}"] + headers + ["", body]
    out += [f"--{boundary}--", ""]
    return "\r\n".join(out).encode()


def _b64(data):
    s = base64.b64encode(data).decode()
    return "\r\n".join(s[i:i + 76] for i in range(0, len(s), 76))


def _wrap_aggregate(rng, name, xml):
    kind = rng.choices([k for k, _ in AGG_WRAPPERS],
                       [w for _, w in AGG_WRAPPERS])[0]
    if kind == "xml":
        return f"{name}.xml", xml
    if kind == "gz":
        return f"{name}.xml.gz", _gz(xml)
    if kind == "zip":
        return f"{name}.zip", _zip(f"{name}.xml", xml)
    payload, ctype, fname = (_gz(xml), "application/gzip", f"{name}.xml.gz") \
        if rng.random() < EML_GZ_SHARE else (xml, "text/xml", f"{name}.xml")
    return f"{name}.eml", _eml(
        "noreply-dmarc@reporter.example", f"Report Domain: {name}",
        [(["Content-Type: text/plain; charset=us-ascii"],
          "This is an aggregate DMARC report."),
         ([f'Content-Type: {ctype}; name="{fname}"',
           "Content-Transfer-Encoding: base64",
           f'Content-Disposition: attachment; filename="{fname}"'], _b64(payload))],
        f"agg-{name}")


# ---- forensic (RFC 6591 ARF) ----------------------------------------------

def _rfc2822(epoch_s):
    t = dt.datetime.fromtimestamp(epoch_s, tz=dt.timezone.utc)
    return t.strftime("%a, %d %b %Y %H:%M:%S +0000")


def _forensic(rng, i, arrival):
    dom = rng.choice(DOMAINS)
    sender = f"user{rng.randrange(1000)}@{dom}"
    b = f"arf-{i}"
    feedback = "\r\n".join([
        "Feedback-Type: auth-failure", "User-Agent: dmarcbench/1.0", "Version: 1",
        f"Original-Mail-From: <{sender}>", "Original-Rcpt-To: <rcpt@example.net>",
        f"Arrival-Date: {_rfc2822(arrival)}", f"Source-IP: {_ip(rng)}",
        f"Reported-Domain: {dom}",
        f"Authentication-Results: mx.example.net; dmarc=fail header.from={dom}",
        f"Auth-Failure: {rng.choice(['dmarc', 'spf', 'dkim'])}",
        f"Delivery-Result: {rng.choice(DELIVERY)}"])
    sample = "\r\n".join([f"From: <{sender}>", "To: <rcpt@example.net>",
                          f"Subject: invoice {i}", f"Message-ID: <{i}@{dom}>"])
    msg = "\r\n".join([
        "From: dmarc-failures@reporter.example", "To: dmarc@example.com",
        f"Date: {_rfc2822(arrival + 60)}", f"Subject: FW: invoice {i}",
        f"Message-ID: <arf-{i}@reporter.example>", "MIME-Version: 1.0",
        f'Content-Type: multipart/report; report-type=feedback-report; boundary="{b}"',
        "", f"--{b}", 'Content-Type: text/plain; charset="US-ASCII"', "",
        "This is an authentication failure report.", "",
        f"--{b}", "Content-Type: message/feedback-report", "", feedback, "",
        f"--{b}", "Content-Type: text/rfc822-headers", "", sample, "",
        f"--{b}--", ""])
    return msg.encode()


# ---- SMTP TLS (RFC 8460) --------------------------------------------------

def _iso(epoch_s):
    return dt.datetime.fromtimestamp(epoch_s, tz=dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%SZ")


def _tls(rng, i, begin):
    policies, n_fail_rows, failed_sessions = [], 0, 0
    for _ in range(rng.randint(1, 3)):
        dom = rng.choice(DOMAINS)
        details = []
        for _ in range(rng.randint(0, 3)):
            n = rng.randint(1, 300)
            details.append({"result-type": rng.choice(TLS_RESULTS),
                            "sending-mta-ip": _ip(rng),
                            "receiving-mx-hostname": f"mx1.{dom}",
                            "failed-session-count": n})
            failed_sessions += n
        n_fail_rows += len(details)
        policies.append({
            "policy": {"policy-type": "sts", "policy-domain": dom,
                       "policy-string": ["version: STSv1", "mode: testing",
                                         f"mx: mx1.{dom}", "max_age: 86400"],
                       "mx-host": [f"mx1.{dom}"]},
            "summary": {"total-successful-session-count": rng.randint(0, 10000),
                        "total-failure-session-count": sum(
                            d["failed-session-count"] for d in details)},
            "failure-details": details})
    doc = {"organization-name": rng.choice(ORGS),
           "date-range": {"start-datetime": _iso(begin),
                          "end-datetime": _iso(begin + 86399)},
           "contact-info": "tls-reporting@reporter.example",
           "report-id": f"tls-{i}", "policies": policies}
    return json.dumps(doc, indent=1).encode(), len(policies), n_fail_rows, failed_sessions


# ---- invalid plants ---------------------------------------------------------

def _invalid_aggregate(rng, i, begin):
    kind = i % 3
    if kind == 0:   # truncated XML
        xml, _ = _agg_report(rng, f"bad-{i}", rng.choice(ORGS), begin, 3)
        return f"bad-{i}.xml", xml[: len(xml) // 2]
    if kind == 1:   # RFC 7489 section 7.2: a date range wider than 48 hours
        xml, _ = _agg_report(rng, f"bad-{i}", rng.choice(ORGS), begin, 3,
                             span_s=7 * 86400)
        return f"bad-{i}.xml", xml
    # a report email without any report attachment
    return f"bad-{i}.eml", _eml("noreply-dmarc@reporter.example", "no report",
                                [(["Content-Type: text/plain"], "nothing here")],
                                f"bad-{i}")


def _invalid_forensic(i):
    # header block only: no feedback-report part and no body
    return ("From: a@example.net\r\nTo: b@example.com\r\n"
            f"Subject: empty {i}\r\n").encode()


def _invalid_tls(rng, i, begin):
    body, _, _, _ = _tls(rng, i, begin)
    if i % 3 == 0:  # truncated JSON
        return f"bad-{i}.json", body[: len(body) // 2]
    if i % 3 == 1:  # truncated gzip stream
        gz = _gz(body)
        return f"bad-{i}.json.gz", gz[: len(gz) // 2]
    return f"bad-{i}.json", json.dumps({"report-id": f"bad-{i}",
                                        "policies": []}).encode()


# ---- corpus ---------------------------------------------------------------

def ingest_corpus(seed, out_dir):
    """Write the report backlog under out_dir/{aggregate,forensic,tls} and
    return the ground-truth manifest (also written as manifest.json)."""
    rng = random.Random(f"dmarc-ingest-{seed}")
    dirs = {f: os.path.join(out_dir, f) for f in ("aggregate", "forensic", "tls")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    m = {"seed": seed, "tables": {
        "records": {}, "reports": {}, "forensic": {}, "tls_reports": {}},
        "tls_failures": {"rows": 0, "failed_sessions": 0},
        "orgs": {}, "files": {"aggregate": 0, "forensic": 0, "tls": 0},
        "invalid": dict(INVALID), "wrappers": {}}
    written = []

    def put(family, name, data):
        with open(os.path.join(dirs[family], name), "wb") as f:
            f.write(data)
        m["files"][family] += 1
        written.append((family, name))

    sizes = [rng.randint(1, 10) for _ in range(N_AGG_SMALL)] + list(LARGE_SIZES)
    rng.shuffle(sizes)
    for i, n in enumerate(sizes):
        org = rng.choice(ORGS)
        begin = EPOCH0 + rng.randrange(DAYS) * 86400
        rid = f"{seed}-{i}"
        xml, total = _agg_report(rng, rid, org, begin, n)
        name, data = _wrap_aggregate(rng, f"report-{i:05d}", xml)
        put("aggregate", name, data)
        ext = name.split(".", 1)[1]
        m["wrappers"][ext] = m["wrappers"].get(ext, 0) + 1
        mo = month_of(begin)
        _bump(m["tables"]["records"], mo, rows=n, sum_count=total)
        _bump(m["tables"]["reports"], mo, rows=1)
        _bump(m["orgs"], org, reports=1, records=n, sum_count=total)
    for i in range(N_FORENSIC):
        arrival = EPOCH0 + rng.randrange(DAYS * 86400)
        put("forensic", f"arf-{i:05d}.eml", _forensic(rng, i, arrival))
        _bump(m["tables"]["forensic"], month_of(arrival), rows=1)
    for i in range(N_TLS):
        begin = EPOCH0 + rng.randrange(DAYS) * 86400
        body, n_pol, n_fail, failed = _tls(rng, i, begin)
        if rng.random() < TLS_GZ_SHARE:
            put("tls", f"tls-{i:05d}.json.gz", _gz(body))
        else:
            put("tls", f"tls-{i:05d}.json", body)
        _bump(m["tables"]["tls_reports"], month_of(begin), rows=n_pol)
        m["tls_failures"]["rows"] += n_fail
        m["tls_failures"]["failed_sessions"] += failed
    for i in range(INVALID["aggregate"]):
        put("aggregate", *_invalid_aggregate(rng, i, EPOCH0 + rng.randrange(DAYS) * 86400))
    for i in range(INVALID["forensic"]):
        put("forensic", f"bad-{i}.eml", _invalid_forensic(i))
    for i in range(INVALID["tls"]):
        put("tls", *_invalid_tls(rng, i, EPOCH0 + rng.randrange(DAYS) * 86400))
    m["records_total"] = sum(v["rows"] for v in m["tables"]["records"].values())
    m["sum_count_total"] = sum(v["sum_count"] for v in m["tables"]["records"].values())
    # fixed sample for the single-thread decode/parse micro-measures:
    # every 16th file of each family, in name order
    m["sample"] = {f: sorted(n for g, n in written if g == f)[::16]
                   for f in dirs}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


# ---- web documents ----------------------------------------------------------

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"]
N_DOCS = 2000
NEAR_DUP_SHARE = 0.05      # copies of another document with a few words changed
EXCERPT_SHARE = 0.03       # short excerpts fully contained in another document


def web_documents(seed, path):
    """Write the document table (doc_id, text, lang, source, n_chars) as one
    parquet file and return the planted (excerpt_id, host_id) pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(f"web-prepare-{seed}")
    texts = []
    n_dup = int(N_DOCS * NEAR_DUP_SHARE)
    n_exc = int(N_DOCS * EXCERPT_SHARE)
    n_base = N_DOCS - n_dup - n_exc
    for _ in range(n_base):
        texts.append([rng.choice(WORDS) for _ in range(rng.randint(10, 100))])
    for _ in range(n_dup):
        words = list(texts[rng.randrange(n_base)])
        for _ in range(max(1, len(words) // 20)):
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        texts.append(words)
    excerpts = []
    for _ in range(n_exc):
        host = rng.randrange(n_base)
        while len(texts[host]) < 60:
            host = rng.randrange(n_base)
        start = rng.randrange(len(texts[host]) - 12)
        excerpts.append((len(texts), host))
        texts.append(texts[host][start:start + 12])
    order = list(range(N_DOCS))
    rng.shuffle(order)     # doc ids are a seeded permutation of positions
    joined = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array(joined, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    })
    pq.write_table(table, path)
    return [(order[e], order[h]) for e, h in excerpts]
